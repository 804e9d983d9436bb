package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** J2/J3 semantics: as-of month selection with previous-month fallback
  * (reference e2e "previous-month ODS fallback" variant,
  * tests/e2e/test_transfer_classifier.py:477-542) and null-pad on miss.
  */
class EnrichmentSpec extends SparkSpec {
  import spark.implicits._

  private def microsOf(ym: Int, day: Int): Long = {
    val y = ym / 100; val m = ym % 100
    java.time.LocalDateTime.of(y, m, day, 12, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
  }

  private val dim = Enrichment.generateDim(spark, numAsids = 30,
    yearMonths = Seq(201911, 201912, 202001))

  test("dim generator produces gap months and missing asids") {
    val byAsid = dim.groupBy("asid").count().as[(String, Long)].collect().toMap
    assert(!byAsid.contains("asid-10"), "asid-10 never present")
    assert(byAsid.values.exists(_ < 3), "some asids have gap months")
  }

  test("effectiveAsOf: whole-month fallback — a present month never mixes with older ones") {
    val eff = Enrichment.effectiveAsOf(dim, Seq(201912, 202001))
    // asid-6: (6+1)%7==0 → missing from the PRESENT 201912 snapshot → no
    // row for that query month (reference: the month's lookup is probed,
    // miss → null-pad; NO per-asid fallback — its e2e vectors pin this)
    val a6 = eff.filter($"asid" === "asid-6" && $"yearMonth" === 201912)
      .select("odsCode").as[String].collect()
    assert(a6.isEmpty, s"per-asid fallback must not happen: ${a6.toSeq}")
    // and in 202001 (present again) → its own snapshot
    val a6b = eff.filter($"asid" === "asid-6" && $"yearMonth" === 202001)
      .select("odsCode").as[String].collect()
    assert(a6b.toSeq == Seq("O00006-202001"))
    // a query month with NO snapshot takes the previous month AS A WHOLE
    val effFb = Enrichment.effectiveAsOf(
      dim.filter($"yearMonth" =!= 202001), Seq(202001))
    val a1 = effFb.filter($"asid" === "asid-1" && $"yearMonth" === 202001)
      .select("odsCode").as[String].collect()
    assert(a1.toSeq == Seq("O00001-201912"))
  }

  test("fallback is bounded to one month — staler snapshots do not leak") {
    val stale = Seq(Enrichment.OrgDimRow("asid-X", "OX", "P", "S", "SN", 201909)).toDF()
    assert(Enrichment.effectiveAsOf(stale, Seq(201912)).count() == 0,
      "a 3-month-old snapshot must NOT enrich (reference raises KeyError)")
    val oneOld = Seq(Enrichment.OrgDimRow("asid-X", "OX", "P", "S", "SN", 201911)).toDF()
    assert(Enrichment.effectiveAsOf(oneOld, Seq(201912)).count() == 1)
    // year boundary: 201912 is the previous month of 202001
    val dec = Seq(Enrichment.OrgDimRow("asid-X", "OX", "P", "S", "SN", 201912)).toDF()
    assert(Enrichment.effectiveAsOf(dec, Seq(202001)).count() == 1)
  }

  test("enrich joins both practice roles as-of month, null-pads misses") {
    val transfers = Seq(
      // month 201912 is PRESENT: requester asid-6 (absent from it → nulls,
      // no per-asid fallback), sender asid-10 (never in dim → nulls)
      ("r1", "asid-6", "asid-10", microsOf(201912, 15)),
      // month 202001: both present
      ("r2", "asid-1", "asid-2", microsOf(202001, 3)),
    ).toDF("repo", "requestingPracticeAsid", "sendingPracticeAsid", "dateRequestedMicros")

    val out = Enrichment.enrich(transfers, dim).collect()
      .map(r => r.getAs[String]("repo") -> r).toMap

    assert(out("r1").getAs[String]("requesting_practice_ods_code") == null)
    assert(out("r1").getAs[String]("sending_practice_ods_code") == null)
    assert(out("r1").getAs[String]("sending_practice_name") == null)
    assert(out("r2").getAs[String]("requesting_practice_ods_code") == "O00001-202001")
    assert(out("r2").getAs[String]("sending_practice_ods_code") == "O00002-202001")
    assert(out("r2").getAs[String]("sending_practice_sicbl_name") == "SICBL 2")

    // a dim without 202001: a 202001 transfer resolves via the 201912
    // snapshot (one-month fallback), a 202003 transfer null-pads
    val fallback = Seq(
      ("r3", "asid-1", "asid-2", microsOf(202001, 3)),
      ("r4", "asid-1", "asid-2", microsOf(202003, 3)),
    ).toDF("repo", "requestingPracticeAsid", "sendingPracticeAsid", "dateRequestedMicros")
    val fb = Enrichment.enrich(fallback, dim.filter($"yearMonth" =!= 202001)).collect()
      .map(r => r.getAs[String]("repo") -> r).toMap
    assert(fb("r3").getAs[String]("requesting_practice_ods_code") == "O00001-201912")
    assert(fb("r3").getAs[String]("sending_practice_ods_code") == "O00002-201912")
    assert(fb("r4").getAs[String]("requesting_practice_ods_code") == null)
    assert(fb("r4").getAs[String]("sending_practice_ods_code") == null)
  }

  test("duplicate (asid, month) rows in an unvalidated dim do not fan out transfers") {
    val dup = Seq(
      Enrichment.OrgDimRow("asid-D", "OD1", "P1", "S1", "SN1", 201912),
      Enrichment.OrgDimRow("asid-D", "OD2", "P2", "S2", "SN2", 201912)).toDF()
    val transfers = Seq(("r1", "asid-D", "asid-D", microsOf(201912, 5)))
      .toDF("repo", "requestingPracticeAsid", "sendingPracticeAsid", "dateRequestedMicros")
    val out = Enrichment.enrich(transfers, Enrichment.dedupDim(dup)).collect()
    assert(out.length == 1, "a duplicated dim row must not duplicate the transfer")
    // deterministic max-struct pick (OD2 > OD1)
    assert(out.head.getAs[String]("requesting_practice_ods_code") == "OD2")
    // the parquet loadDim branch dedups at entry
    val dir = tmpDir("dup-dim")
    dup.write.mode("overwrite").parquet(dir)
    assert(Enrichment.loadDim(spark, dir).count() == 1)
    // and an engine seeded with the duplicated dim enriches singly too
    val log = ChangeLogGen.generate(spark,
      GenConfig(numConversations = 10, hotConversations = 0, hotFragments = 1))
    val eng = new CdcEngine(tmpDir("dup-dim-eng"), numBuckets = 4,
      cutoffMicros = 14L * 24 * 3600 * 1000000L, dim = Some(dup.unionByName(
        Enrichment.generateDim(spark, numAsids = 30, yearMonths = Seq(201912, 202001)))))
    eng.applyEpoch(spark, log, 0L)
    val enr = eng.currentEnriched(spark)
    assert(enr.count() == enr.select("repo").distinct().count(),
      "dup seed rows must not produce dup enriched rows")
  }

  test("readOdsJson: reference JSON shape → flat dim, sicbl null-pad, last-entry-wins") {
    val dir = java.nio.file.Files.createTempDirectory("ods-json")
    val json =
      """{
        |  "generated_on": "2022-01-15T16:51:21.353977+00:00",
        |  "year": 2019, "month": 12,
        |  "practices": [
        |    {"ods_code": "A1", "name": "Practice A (stale)", "asids": ["asid-1", "asid-9"]},
        |    {"ods_code": "B2", "name": "Practice B", "asids": []},
        |    {"ods_code": "C3", "name": "Practice C, no sicbl", "asids": ["asid-3"]},
        |    {"ods_code": "A9", "name": "Practice A9 (wins asid-1)", "asids": ["asid-1"]}
        |  ],
        |  "sicbls": [
        |    {"ods_code": "10D", "name": "Sicbl Ten (stale)", "practices": ["A1", "B2"]},
        |    {"ods_code": "11E", "name": "Sicbl Eleven (wins A1)", "practices": ["A1"]}
        |  ]
        |}""".stripMargin
    val p = dir.resolve("organisationMetadata.json")
    java.nio.file.Files.write(p, json.getBytes("UTF-8"))

    val rows = Enrichment.readOdsJson(spark, Seq(p.toString)).collect()
      .map(r => r.getAs[String]("asid") -> r).toMap
    assert(rows.keySet == Set("asid-1", "asid-9", "asid-3"))
    // duplicate asid across practices: the LAST practice entry wins
    // (organisation_lookup.py dict-comprehension overwrite order)
    assert(rows("asid-1").getAs[String]("odsCode") == "A9")
    assert(rows("asid-1").getAs[String]("name") == "Practice A9 (wins asid-1)")
    // practice listed by two sicbls: last sicbl entry wins
    assert(rows("asid-9").getAs[String]("sicblOdsCode") == "11E")
    assert(rows("asid-9").getAs[String]("sicblName") == "Sicbl Eleven (wins A1)")
    // practice in no sicbl list → null-pad (the lookup's .get → None)
    assert(rows("asid-3").getAs[String]("sicblOdsCode") == null)
    assert(rows.values.forall(_.getAs[Int]("yearMonth") == 201912))

    // and the flat dim drops straight into the enrichment join
    val transfers = Seq(("r1", "asid-1", "asid-3", microsOf(201912, 5)))
      .toDF("repo", "requestingPracticeAsid", "sendingPracticeAsid", "dateRequestedMicros")
    val out = Enrichment.enrich(transfers,
      Enrichment.readOdsJson(spark, Seq(p.toString))).collect()(0)
    assert(out.getAs[String]("requesting_practice_ods_code") == "A9")
    assert(out.getAs[String]("sending_practice_name") == "Practice C, no sicbl")
    assert(out.getAs[String]("sending_practice_sicbl_ods_code") == null)
  }

  test("enrichment plan broadcasts the dim (no shuffle of the fact side)") {
    val transfers = Seq(("r1", "asid-1", "asid-2", microsOf(202001, 3)))
      .toDF("repo", "requestingPracticeAsid", "sendingPracticeAsid", "dateRequestedMicros")
    val plan = Enrichment.enrich(transfers, dim).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
  }
}
