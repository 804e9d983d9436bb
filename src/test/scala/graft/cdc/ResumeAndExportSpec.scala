package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Resume-from-checkpoint across process boundaries (a NEW engine instance
  * over an existing warehouse continues the epoch chain), and the S7
  * daily-partitioned export.
  */
class ResumeAndExportSpec extends SparkSpec {
  import spark.implicits._

  private val day = 24L * 3600 * 1000000L
  private val cfg = GenConfig(numConversations = 150, hotConversations = 1,
    hotFragments = 32, redeliveryPermille = 40, epochs = 4)
  private lazy val log = ChangeLogGen.generate(spark, cfg).cache()

  test("a fresh engine instance resumes an existing warehouse mid-chain") {
    val dir = tmpDir("resume")
    val first = new CdcEngine(dir, numBuckets = 8, cutoffMicros = 14 * day)
    (0L to 1L).foreach(e => first.applyEpoch(spark, log.filter(_.epoch == e), e))
    // "restart": new instance, same warehouse — also re-applies epoch 1
    // (simulating an at-least-once upstream) before continuing
    val resumed = new CdcEngine(dir, numBuckets = 8, cutoffMicros = 14 * day)
    (1L to 3L).foreach(e => resumed.applyEpoch(spark, log.filter(_.epoch == e), e))

    val oneShot = new CdcEngine(tmpDir("oneshot"), numBuckets = 8, cutoffMicros = 14 * day)
    (0L to 3L).foreach(e => oneShot.applyEpoch(spark, log.filter(_.epoch == e), e))

    def sha(e: CdcEngine) = e.currentTransfers(spark)
      .select("repo", "row_sha256").as[(String, String)].collect().toMap
    assert(sha(resumed) == sha(oneShot))
    assert(resumed.transfers.latestManifest().get.epoch == 3)
  }

  test("daily-partitioned export writes one dir per request day (S7)") {
    val transfers = CdcPipeline.classify(log, 14 * day).toDF()
    val out = tmpDir("daily")
    Export.exportDaily(transfers, out)
    val dayDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("date_requested_day=")).map(_.getName).sorted
    assert(dayDirs.nonEmpty)
    assert(dayDirs.head == "date_requested_day=2020-01-01")
    val back = spark.read.parquet(out)
    assert(back.count() == transfers.count())
    // day column matches the P2 assignment rule (day of date_requested)
    val bad = back.filter(
      date_format(timestamp_micros(col("dateRequestedMicros")), "yyyy-MM-dd")
        =!= col("date_requested_day")).count()
    assert(bad == 0)
  }

  test("incremental export rewrites only the changed days and equals a full re-export") {
    // conversation starts advance one minute per id, so spanning several
    // days needs >1440 ids; epochs partition by offset ⇒ later epochs touch
    // later days and earlier days' exports must stay physically untouched
    val wideCfg = GenConfig(numConversations = 3000, hotConversations = 0,
      hotFragments = 0, redeliveryPermille = 20, epochs = 4)
    val log = ChangeLogGen.generate(spark, wideCfg).cache()
    val eng = new CdcEngine(tmpDir("inc-export"), numBuckets = 8,
      cutoffMicros = 14 * day)
    val out = tmpDir("inc-export-out")

    (0L to 1L).foreach(e => eng.applyEpoch(spark, log.filter(_.epoch == e), e))
    val cursor = eng.transfers.latestManifest().get.epoch
    val first = Export.exportDailyIncremental(eng.transfers, spark, out,
      sinceEpoch = -1L, asOf = cursor)
    assert(first.nonEmpty, "initial incremental run exports every day")

    // snapshot each day dir's file set + mtimes before the second run
    def dayFiles(): Map[String, Set[(String, Long)]] =
      new java.io.File(out).listFiles().filter(_.getName.startsWith("date_requested_day="))
        .map(d => d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.lastModified())).toSet).toMap
    val before = dayFiles()

    (2L to 3L).foreach(e => eng.applyEpoch(spark, log.filter(_.epoch == e), e))
    val head = eng.transfers.latestManifest().get.epoch
    val rewritten = Export.exportDailyIncremental(eng.transfers, spark, out,
      sinceEpoch = cursor, asOf = head)
    // epochs 2-3 are later conversations = later days; day 1 must not be in
    // the rewrite set (emit-on-change keeps re-folded-but-unchanged
    // bucket-mate sessions out of the change stream)
    assert(rewritten.nonEmpty && !rewritten.contains("2020-01-01"),
      s"unchanged day rewritten: $rewritten")

    // untouched day dirs are physically untouched (same files, same mtimes)
    val after = dayFiles()
    val untouched = before.keySet.filterNot(d =>
      rewritten.contains(d.stripPrefix("date_requested_day=")))
    assert(untouched.nonEmpty)
    untouched.foreach(d => assert(after(d) == before(d), s"$d was rewritten"))

    // the incrementally-maintained export equals a full re-export
    val full = tmpDir("full-export-out")
    Export.exportDaily(eng.currentTransfers(spark), full)
    def rows(dir: String) = spark.read.parquet(dir)
      .select("repo", "row_sha256", "date_requested_day")
      .as[(String, String, String)].collect().toSet
    assert(rows(out) == rows(full))
  }

  test("resumable export persists its own cursor across exporter restarts") {
    val wideCfg = GenConfig(numConversations = 3000, hotConversations = 0,
      hotFragments = 0, redeliveryPermille = 20, epochs = 4)
    val log = ChangeLogGen.generate(spark, wideCfg).cache()
    val eng = new CdcEngine(tmpDir("cur-export"), numBuckets = 8,
      cutoffMicros = 14 * day)
    val out = tmpDir("cur-export-out")

    (0L to 1L).foreach(e => eng.applyEpoch(spark, log.filter(_.epoch == e), e))
    val first = Export.exportDailyIncrementalResumable(eng.transfers, spark, out)
    assert(first.nonEmpty, "initial resumable run exports every day")
    assert(Export.readCursor(spark, out).contains(eng.transfers.latestManifest().get.epoch))
    // idle re-run (restarted exporter, nothing new committed): pure no-op
    assert(Export.exportDailyIncrementalResumable(eng.transfers, spark, out).isEmpty)

    def dayFiles(): Map[String, Set[(String, Long)]] =
      new java.io.File(out).listFiles().filter(_.getName.startsWith("date_requested_day="))
        .map(d => d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.lastModified())).toSet).toMap
    val before = dayFiles()

    (2L to 3L).foreach(e => eng.applyEpoch(spark, log.filter(_.epoch == e), e))
    // "restarted" exporter: no caller-held cursor — the persisted one drives
    val rewritten = Export.exportDailyIncrementalResumable(eng.transfers, spark, out)
    assert(rewritten.nonEmpty && !rewritten.contains("2020-01-01"),
      s"unchanged day rewritten: $rewritten")
    val untouched = before.keySet.filterNot(d =>
      rewritten.contains(d.stripPrefix("date_requested_day=")))
    assert(untouched.nonEmpty)
    val after = dayFiles()
    untouched.foreach(d => assert(after(d) == before(d), s"$d was rewritten"))

    // crash between export and cursor advance: the stale cursor re-exports
    // the same epochs — idempotent, still equals a full re-export
    Export.exportDailyIncremental(eng.transfers, spark, out,
      sinceEpoch = Export.readCursor(spark, out).get - 2, asOf = Long.MaxValue)
    val full = tmpDir("cur-full-out")
    Export.exportDaily(eng.currentTransfers(spark), full)
    def rows(dir: String) = spark.read.parquet(dir)
      .select("repo", "row_sha256", "date_requested_day")
      .as[(String, String, String)].collect().toSet
    assert(rows(out) == rows(full))
  }

  test("a corrupt cursor falls back to the idempotent full export") {
    val eng = new CdcEngine(tmpDir("badcur-export"), numBuckets = 8,
      cutoffMicros = 14 * day)
    val out = tmpDir("badcur-export-out")
    (0L to 1L).foreach(e => eng.applyEpoch(spark, log.filter(_.epoch == e), e))
    assert(Export.exportDailyIncrementalResumable(eng.transfers, spark, out).nonEmpty)

    // store-level truncation: a zero-length cursor must read as absent,
    // not wedge the exporter with NumberFormatException
    val cur = new java.io.File(out, "_graft_cursor")
    java.nio.file.Files.write(cur.toPath, Array.emptyByteArray)
    assert(Export.readCursor(spark, out).isEmpty)
    val redone = Export.exportDailyIncrementalResumable(eng.transfers, spark, out)
    assert(redone.nonEmpty, "corrupt cursor must trigger the full re-export")
    assert(Export.readCursor(spark, out)
      .contains(eng.transfers.latestManifest().get.epoch), "cursor healed")

    // non-numeric garbage behaves the same way
    java.nio.file.Files.write(cur.toPath, "not-a-number".getBytes("UTF-8"))
    assert(Export.readCursor(spark, out).isEmpty)
  }

  test("incremental export clears a day whose rows all moved away") {
    import graft.lake.LakeTable
    val t = new LakeTable(tmpDir("move") + "/t", numBuckets = 2,
      keyColumns = Seq("repo"))
    val d1 = 1577836800000000L // 2020-01-01
    val d2 = d1 + 86400L * 1000000L // 2020-01-02
    t.mergeDelta(Seq(("r1", d1), ("r2", d2)).toDF("repo", "dateRequestedMicros"), 0L)
    val out = tmpDir("move-out")
    assert(Export.exportDailyIncremental(t, spark, out, sinceEpoch = -1L, asOf = 0L)
      == Seq("2020-01-01", "2020-01-02"))

    // r1's session re-classifies onto day 2 (late-but-in-cutoff earlier
    // start) — day 1 now holds nothing, and its stale export must go
    t.mergeDelta(Seq(("r1", d2)).toDF("repo", "dateRequestedMicros"), 1L)
    val rewritten = Export.exportDailyIncremental(t, spark, out,
      sinceEpoch = 0L, asOf = 1L)
    assert(rewritten == Seq("2020-01-01", "2020-01-02"),
      s"the vacated day must be rewritten too: $rewritten")
    assert(!new java.io.File(out, "date_requested_day=2020-01-01").exists(),
      "vacated day directory must be removed")
    val back = spark.read.parquet(out)
      .select("repo", "date_requested_day").as[(String, String)].collect().toSet
    assert(back == Set(("r1", "2020-01-02"), ("r2", "2020-01-02")))
  }

  test("incremental export clears a vacated day on a file: URI destination") {
    // the day partitions and the cursor go through the destination's Hadoop
    // FileSystem; the vacated-day delete must too — a java.nio path built
    // from "file:/…" is relative and misses the day directory
    import graft.lake.LakeTable
    val t = new LakeTable(tmpDir("move-uri") + "/t", numBuckets = 2,
      keyColumns = Seq("repo"))
    val d1 = 1577836800000000L // 2020-01-01
    val d2 = d1 + 86400L * 1000000L // 2020-01-02
    t.mergeDelta(Seq(("r1", d1), ("r2", d2)).toDF("repo", "dateRequestedMicros"), 0L)
    val dir = tmpDir("move-uri-out")
    val out = "file:" + dir
    assert(Export.exportDailyIncremental(t, spark, out, sinceEpoch = -1L, asOf = 0L)
      == Seq("2020-01-01", "2020-01-02"))

    t.mergeDelta(Seq(("r1", d2)).toDF("repo", "dateRequestedMicros"), 1L)
    assert(Export.exportDailyIncremental(t, spark, out, sinceEpoch = 0L, asOf = 1L)
      == Seq("2020-01-01", "2020-01-02"))
    assert(!new java.io.File(dir, "date_requested_day=2020-01-01").exists(),
      "vacated day directory must be removed")
    val back = spark.read.parquet(out)
      .select("repo", "date_requested_day").as[(String, String)].collect().toSet
    assert(back == Set(("r1", "2020-01-02"), ("r2", "2020-01-02")))
  }
}
