package graft.cdc

import graft.SparkSpec
import graft.lake.LakeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `CdcEngine.applyEpochs` (depth-1 epoch pipelining) must be
  * OBSERVATIONALLY IDENTICAL to a sequential `applyEpoch` loop: same
  * transfers/state/enriched table contents (sha-for-sha), same manifests'
  * row stats, same resume/skip behaviour — the overlap is allowed to change
  * wall-clock only.
  */
class PipelinedApplySpec extends SparkSpec {
  import spark.implicits._

  private val day = 24L * 3600 * 1000000L
  private val cfg = GenConfig(numConversations = 200, hotConversations = 2,
    hotFragments = 64, redeliveryPermille = 50, epochs = 4)
  private lazy val log = ChangeLogGen.generate(spark, cfg).cache()
  private def batches: Seq[(Long, org.apache.spark.sql.Dataset[ChangeEvent])] =
    (0L to 3L).map(e => e -> log.filter(_.epoch == e))

  private def shaMap(df: DataFrame): Map[String, String] =
    df.select("repo", "row_sha256").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  private def stateMap(eng: CdcEngine): Map[(String, String), Long] =
    LakeTable.readSnapshot(eng.state, spark)
      .select("repo", "commit", "offset").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  test("pipelined applyEpochs equals the sequential applyEpoch loop, all tables") {
    val dim = Enrichment.generateDim(spark, numAsids = 997,
      yearMonths = Seq(201911, 201912))
    val seqEng = new CdcEngine(tmpDir("pipe-seq"), numBuckets = 8,
      cutoffMicros = 14 * day, dim = Some(dim))
    batches.foreach { case (e, b) => seqEng.applyEpoch(spark, b, e) }

    val pipeEng = new CdcEngine(tmpDir("pipe-pipe"), numBuckets = 8,
      cutoffMicros = 14 * day, dim = Some(dim))
    val lastM = pipeEng.applyEpochs(spark, batches)
    assert(lastM.exists(_.epoch == 3L))
    assert(pipeEng.committedThrough().contains(3L))

    assert(shaMap(pipeEng.currentTransfers(spark)) ==
      shaMap(seqEng.currentTransfers(spark)), "transfers must match sha-for-sha")
    assert(stateMap(pipeEng) == stateMap(seqEng),
      "state event buffer must keep identical first-seen offsets")
    assert(shaMap(pipeEng.currentEnriched(spark)) ==
      shaMap(seqEng.currentEnriched(spark)), "enriched must match sha-for-sha")

    // manifests carry the same per-epoch batch lineage
    (0L to 3L).foreach { e =>
      val sm = seqEng.transfers.manifestAt(e).get
      val pm = pipeEng.transfers.manifestAt(e).get
      assert(pm.lineage("batchRows") == sm.lineage("batchRows"), s"epoch $e")
      assert(pm.files.map(_.rows).sum == sm.files.map(_.rows).sum, s"epoch $e")
    }
  }

  test("applyEpochs skips committed epochs and resumes mid-range") {
    val eng = new CdcEngine(tmpDir("pipe-resume"), numBuckets = 8,
      cutoffMicros = 14 * day)
    // first two epochs land sequentially (an older driver run)
    (0L to 1L).foreach(e => eng.applyEpoch(spark, log.filter(_.epoch == e), e))
    // the restarted pipelined driver replays the WHOLE range
    eng.applyEpochs(spark, batches)
    assert(eng.committedThrough().contains(3L))

    val ref = new CdcEngine(tmpDir("pipe-resume-ref"), numBuckets = 8,
      cutoffMicros = 14 * day)
    batches.foreach { case (e, b) => ref.applyEpoch(spark, b, e) }
    assert(shaMap(eng.currentTransfers(spark)) == shaMap(ref.currentTransfers(spark)))

    // and a full second replay over the committed range is a pure no-op
    val heads = (eng.transfers.latestManifest(), eng.state.latestManifest())
    eng.applyEpochs(spark, batches)
    assert((eng.transfers.latestManifest(), eng.state.latestManifest()) == heads)
  }

  test("applyEpochs heals a half-committed epoch mid-range (crash recovery)") {
    import org.apache.spark.sql.functions.{col => c, lit => l, sha2 => sh}
    val eng = new CdcEngine(tmpDir("pipe-heal"), numBuckets = 8,
      cutoffMicros = 14 * day)
    eng.applyEpoch(spark, log.filter(_.epoch == 0L), 0L)
    // manual half-applied epoch 1: ONLY the state table commits (the same
    // rows applyEpoch would write), then the process "crashes"
    val stamped = log.filter(_.epoch == 1L).withColumn("epoch", l(1L)).as[ChangeEvent]
    val touched = stamped.toDF().agg(
      org.apache.spark.sql.functions.collect_set(eng.state.bucketCol))
      .collect()(0).getSeq[Int](0).toSet
    val eventCols = spark.emptyDataset[ChangeEvent].columns
    val priorEv = eng.state.snapshot(spark, buckets = Some(touched))
      .select(eventCols.map(c).toIndexedSeq: _*).as[ChangeEvent]
    val cutoffLocal = 14 * day
    val fresh = CdcPipeline.toApplyEvents(priorEv.union(stamped))
      .groupByKey(_.repo)
      .flatMapGroups((r, it) => CdcPipeline.applyGroup(r, it, cutoffLocal, 1L))
      .filter(_.event.isDefined).map(_.event.get).toDF()
      .withColumn("content_sha256", sh(c("content"), 256))
    eng.state.appendNew(fresh, 1L, assumeNew = true)
    assert(eng.transfers.latestManifest().get.epoch == 0L, "transfers must lag")

    // the restarted PIPELINED driver replays the whole range and heals
    eng.applyEpochs(spark, batches)
    assert(eng.committedThrough().contains(3L))
    val ref = new CdcEngine(tmpDir("pipe-heal-ref"), numBuckets = 8,
      cutoffMicros = 14 * day)
    batches.foreach { case (e, b) => ref.applyEpoch(spark, b, e) }
    assert(shaMap(eng.currentTransfers(spark)) == shaMap(ref.currentTransfers(spark)),
      "healed pipelined run must equal the clean sequential run")
    assert(stateMap(eng) == stateMap(ref))
  }

  test("prior-state fold consumes the stored parse — content is never re-read") {
    import graft.classifier.{Interactions, SpineMessage}
    val eng = new CdcEngine(tmpDir("parsed-path"), numBuckets = 4,
      cutoffMicros = 14 * day, storeParsedState = true)
    val t0 = 1577836800000000L
    val req = SpineMessage(t0, "rP", "rP", Interactions.EhrRequestStarted,
      "asid-r", "asid-s", None, None, Some("SystemOne"), Some("Vision"))
    // state row whose CONTENT is deliberately different from its PARSED
    // form: if any later fold read the content column, the divergent
    // payload (a COPC) would change the classification
    val decoy = req.copy(guid = "decoy", interactionId = Interactions.CommonPointToPoint)
    val seeded = Seq(ApplyEvent("rP", "p", "rP", "scala",
      MessageParser.format(decoy), offset = 1L, op = "insert",
      tsMicros = t0, epoch = 0L, parsed = req)).toDS().toDF()
      .withColumn("content_sha256", sha2(col("content"), 256))
    eng.state.appendNew(seeded, 0L, assumeNew = true)
    assert(eng.state.bornWith("parsed"))

    // epoch 1 completes the session; the fold must classify from `parsed`
    // (request started) — reading content would see a session with no
    // request and drop it entirely
    val ack = SpineMessage(t0 + 60000000L, "rP", "g2", Interactions.ApplicationAck,
      "asid-s", "asid-r", Some("rP"), None, Some("Vision"), Some("SystemOne"))
    val ev1 = Seq(ChangeEvent("rP", "p", "g2", "scala",
      MessageParser.format(ack), offset = 2L, op = "insert",
      tsMicros = ack.timeMicros, epoch = 1L)).toDS()
    eng.applyEpoch(spark, ev1, 1L)
    val rows = eng.currentTransfers(spark).collect()
    assert(rows.length == 1, "session must classify from the parsed request")
    assert(rows(0).getAs[String]("status") == "Technical failure")
    assert(rows(0).getAs[String]("failureReason") == "Core extract not sent")
  }

  test("storeParsedState on/off produce identical transfers; off keeps state lean") {
    val on = new CdcEngine(tmpDir("psd-on"), numBuckets = 8,
      cutoffMicros = 14 * day, storeParsedState = true)
    val off = new CdcEngine(tmpDir("psd-off"), numBuckets = 8,
      cutoffMicros = 14 * day)
    batches.foreach { case (e, b) => on.applyEpoch(spark, b, e) }
    batches.foreach { case (e, b) => off.applyEpoch(spark, b, e) }
    assert(shaMap(on.currentTransfers(spark)) == shaMap(off.currentTransfers(spark)),
      "the stored-parse path must not change any classification")
    assert(LakeTable.readSnapshot(on.state, spark).columns.contains("parsed"))
    assert(!LakeTable.readSnapshot(off.state, spark).columns.contains("parsed"),
      "flag off must not bloat state with the parsed column")
    // a warehouse born with stored parses refuses a flag-off engine
    val wrong = new CdcEngine(on.warehouse, numBuckets = 8, cutoffMicros = 14 * day)
    intercept[IllegalArgumentException] {
      wrong.applyEpoch(spark, log.filter(_.epoch == 0L), 100L)
    }
  }

  test("batch-boundary invariance: random epoch splits converge to identical tables") {
    // the same event stream chopped at ARBITRARY points must produce the
    // same final transfers/state regardless of how many epochs carried it —
    // the engine-level generalization of the fold's order/redelivery
    // idempotence properties (IdempotenceProps)
    val ordered = log.orderBy("offset").collect().toSeq
    val ref = new CdcEngine(tmpDir("split-ref"), numBuckets = 8,
      cutoffMicros = 14 * day)
    ref.applyEpoch(spark, ordered.toDS(), 0L) // everything in ONE epoch
    val want = shaMap(ref.currentTransfers(spark))

    Seq(7L, 99L).foreach { seed =>
      val rng = new scala.util.Random(seed)
      val k = 2 + rng.nextInt(4) // 2..5 epochs
      val cuts = Seq.fill(k - 1)(rng.nextInt(ordered.size)).sorted :+ ordered.size
      val eng = new CdcEngine(tmpDir(s"split-$seed"), numBuckets = 8,
        cutoffMicros = 14 * day)
      var from = 0
      cuts.zipWithIndex.foreach { case (to, i) =>
        eng.applyEpoch(spark, ordered.slice(from, to).toDS(), i.toLong)
        from = to
      }
      assert(shaMap(eng.currentTransfers(spark)) == want,
        s"seed=$seed split=$cuts must equal the single-epoch run")
      assert(stateMap(eng) == stateMap(ref), s"seed=$seed state must match")
    }
  }

  test("applyEpochs rejects out-of-order epoch ids") {
    val eng = new CdcEngine(tmpDir("pipe-order"), numBuckets = 4,
      cutoffMicros = 14 * day)
    intercept[IllegalArgumentException] {
      eng.applyEpochs(spark, Seq(
        1L -> log.filter(_.epoch == 1L), 0L -> log.filter(_.epoch == 0L)))
    }
  }
}
