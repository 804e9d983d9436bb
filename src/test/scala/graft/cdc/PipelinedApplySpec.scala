package graft.cdc

import graft.SparkSpec
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
    eng.state.snapshot(spark)
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
      org.apache.spark.sql.functions.collect_set(eng.state.bucketCol(eng.state.currentNumBuckets)))
      .collect()(0).getSeq[Int](0).toSet
    val eventCols = spark.emptyDataset[ChangeEvent].columns
    val priorEv = eng.state.snapshot(spark, buckets = Some(touched))
      .select(eventCols.map(c).toIndexedSeq: _*).as[ChangeEvent]
    val cutoffLocal = 14 * day
    val fresh = priorEv.union(stamped)
      .groupByKey(_.repo)
      .flatMapGroups((r, it) => CdcPipeline.applyGroup(r, it, cutoffLocal, 1L))
      .filter(_.event.isDefined).map(_.event.get).toDF()
      .withColumn("content_sha256", sh(c("content"), 256))
    eng.state.mergeDelta(fresh, 1L)
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

  test("a state table born with a parsed column keeps applying from content") {
    import graft.classifier.{Interactions, SpineMessage}
    val eng = new CdcEngine(tmpDir("parsed-born"), numBuckets = 4,
      cutoffMicros = 14 * day)
    val t0 = 1577836800000000L
    val req = SpineMessage(t0, "rP", "rP", Interactions.EhrRequestStarted,
      "asid-r", "asid-s", None, None, Some("SystemOne"), Some("Vision"))
    // an older engine stored each event's parse beside its content; this
    // row's stored parse is a decoy (a COPC, no request), so a fold that
    // read it instead of `content` would see no request and drop the session
    val decoy = req.copy(guid = "decoy", interactionId = Interactions.CommonPointToPoint)
    val ev0 = ChangeEvent("rP", "p", "rP", "scala", MessageParser.format(req),
      offset = 1L, op = "insert", tsMicros = t0, epoch = 0L)
    val seeded = Seq((ev0, decoy)).toDF("e", "parsed").select("e.*", "parsed")
      .withColumn("content_sha256", sha2(col("content"), 256))
    eng.state.mergeDelta(seeded, 0L)

    val ack = SpineMessage(t0 + 60000000L, "rP", "g2", Interactions.ApplicationAck,
      "asid-s", "asid-r", Some("rP"), None, Some("Vision"), Some("SystemOne"))
    val ev1 = ChangeEvent("rP", "p", "g2", "scala", MessageParser.format(ack),
      offset = 2L, op = "insert", tsMicros = ack.timeMicros, epoch = 1L)
    eng.applyEpoch(spark, Seq(ev1).toDS(), 1L)

    val want = shaMap(CdcPipeline.withRowSha(
      CdcPipeline.classify(Seq(ev0, ev1).toDS(), 14 * day).toDF()))
    assert(want.size == 1, "the content events classify to one transfer")
    assert(shaMap(eng.currentTransfers(spark)) == want, "content wins, parsed is ignored")
    val fresh = eng.state.snapshot(spark).where(col("epoch") === 1L)
    assert(fresh.count() == 1 && fresh.where(col("parsed").isNotNull).count() == 0,
      "new state rows carry parsed = null")
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
