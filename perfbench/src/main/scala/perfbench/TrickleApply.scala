package perfbench

import graft.cdc.{CdcEngine, ChangeEvent, ChangeLogGen, Enrichment, Export, GenConfig}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** The trickle phase of `cdc_apply`: the tail of a change log as many
  * small epochs. Each event's epoch is re-stamped from its conversation hash
  * plus its message index, so sessions span epochs and some events arrive
  * before messages that precede them. The engine is seeded with an
  * organisation dim, so each epoch makes three concurrent commits, and it
  * compacts inline. Every epoch is applied with a sequential `applyEpoch`
  * (the streaming ingest path) and followed by a downstream
  * `exportDailyIncrementalResumable`. The phase ends with seeded point
  * lookups and full snapshot reads.
  */
object TrickleApply {
  val Conversations = 6600L
  /** Session start epochs are spread over this many epochs. */
  val StartSpread = 12
  /** Message index → epoch step: a session's messages arrive over a few epochs. */
  val MsgsPerEpoch = 3
  /** Epochs of history that arrive together as epoch 0 (a backlog load);
    * the epochs after it are the steady ~2k-event tail.
    */
  val Backlog = 2
  val Buckets = 4
  /** Live files per bucket before a commit compacts it (jittered up to
    * twice that by the engine): low enough that every bucket compacts
    * several times within the run.
    */
  val CompactThreshold = 2
  /** Timed tail epochs (epoch 0, the backlog, is the warm-up). */
  val MinTimedEpochs = 2
  val Lookups = 20
  val DimMonths: Seq[Int] = Seq(201912, 202001, 202002)

  /** The log with each event's epoch re-stamped: a session starts at a
    * hash-chosen epoch, message k arrives MsgsPerEpoch-wise later, and one
    * event in five arrives an epoch early. Redelivered copies (upper half of
    * the conversation's offset slot) follow their original. The first
    * Backlog epochs fold into epoch 0.
    */
  def restamp(log: Dataset[ChangeEvent], cfg: GenConfig): Dataset[ChangeEvent] = {
    import log.sparkSession.implicits._
    val slot = ChangeLogGen.slotSize(cfg)
    val idx = pmod(col("offset"), lit(slot))
    val msg = when(idx >= slot / 2, idx - slot / 2 + 1).otherwise(idx)
    val start = pmod(xxhash64(col("repo"), lit(cfg.seed)), lit(StartSpread.toLong))
    val early = when(pmod(xxhash64(col("repo"), col("offset"), lit(cfg.seed)), lit(5L)) === 0, 1L)
      .otherwise(0L)
    log.withColumn("epoch",
      greatest(lit(0L), start + floor(msg / MsgsPerEpoch).cast("long") - early - Backlog))
      .as[ChangeEvent]
  }

  /** The re-stamped log (cached) and its per-epoch batches as local data,
    * the way a tailing source hands them over.
    */
  final class Input(ctx: Ctx) {
    private val spark = ctx.spark
    import spark.implicits._
    val cfg: GenConfig = GenConfig(numConversations = Conversations, seed = ctx.seed,
      hotConversations = 0, hotFragments = 0, epochs = 1)
    private val rows = restamp(ChangeLogGen.generate(spark, cfg), cfg).collect()
    val log: Dataset[ChangeEvent] = spark.createDataset(rows.toSeq).cache()
    log.count()
    val batches: Map[Long, Dataset[ChangeEvent]] =
      rows.groupBy(_.epoch).map { case (e, rs) => e -> spark.createDataset(rs.toSeq) }
    val epochs: Seq[Long] = batches.keys.toSeq.sorted
    require(epochs == (0L to epochs.last), "re-stamped epochs must be contiguous")
  }

  final class Phase(ctx: Ctx, in: Input) {
    private val spark = ctx.spark
    import spark.implicits._
    private val rep = ctx.report
    private val tr = ctx.tracer
    private val dim = Enrichment.generateDim(spark, numAsids = 997, yearMonths = DimMonths)
    private val eng = new CdcEngine(ctx.newDir("trickle-"), numBuckets = Buckets,
      cutoffMicros = Cdc.CutoffMicros, dim = Some(dim), dimMonths = Some(DimMonths.toSet),
      compactThreshold = CompactThreshold)
    private val exportDir = ctx.newDir("trickle-export-")

    private def lookup(repo: String): Int =
      eng.transfers.lookup(spark, Map("repo" -> repo)).collect().length

    private def snapshotReads(): Unit = {
      eng.currentTransfers(spark).write.mode("overwrite").format("noop").save()
      eng.currentEnriched(spark).write.mode("overwrite").format("noop").save()
    }

    /** One epoch: the apply, then the downstream export. Returns the seconds
      * of each and the number of days the export rewrote.
      */
    private def epoch(e: Long): Option[(Double, Double, Int)] = for {
      a <- rep.op(s"trickle apply epoch $e")(tr.span(s"epoch $e", "trickle apply")(
        ctx.tagged(s"bench: trickle apply epoch $e")(
          Util.timed(eng.applyEpoch(spark, in.batches(e), e)))))
      x <- rep.op(s"trickle export epoch $e")(tr.span(s"epoch $e", "trickle export")(
        ctx.tagged(s"bench: trickle export $e") {
          var days = 0
          val s = Util.timed {
            days = Export.exportDailyIncrementalResumable(eng.transfers, spark, exportDir).size
          }
          (s, days)
        }))
    } yield (a, x._1, x._2)

    private var warm = false
    private var timed = Vector.empty[(Long, Double, Double, Int)]
    private var lookups = Vector.empty[(Double, Int)]
    private var readS: Option[Double] = None

    /** The backlog epoch with its export, one lookup and the snapshot reads. */
    def warmUp(): Unit = ctx.tagged("bench: trickle warm-up") {
      warm = epoch(0L).isDefined && rep.op("trickle warm-up reads") {
        lookup(f"repo-${0L}%010d")
        snapshotReads()
      }.isDefined
    }

    /** Timed epochs until `seconds` have elapsed (at least MinTimedEpochs),
      * then the lookups and snapshot reads over the table they built.
      */
    def run(seconds: Double): Unit = if (warm) {
      val t0 = Util.nowS()
      val rest = in.epochs.drop(1).iterator
      var ok = true
      while (ok && rest.hasNext && (timed.size < MinTimedEpochs || Util.nowS() - t0 < seconds)) {
        val e = rest.next()
        epoch(e) match {
          case Some((a, x, days)) => timed :+= ((e, a, x, days))
          case None               => ok = false
        }
      }
      Util.mark(s"trickle epochs ${timed.map(x => f"${x._2}%.2f+${x._3}%.2f").mkString(" ")}")
      if (timed.isEmpty) return
      val repos = applied.select("repo").distinct().as[String].collect().sorted
      val rnd = new scala.util.Random(ctx.seed)
      lookups = (1 to Lookups).flatMap { i =>
        val r = repos(rnd.nextInt(repos.length))
        rep.op(s"trickle lookup $r")(tr.span(s"lookup $i", "trickle lookup")(
          ctx.tagged("bench: trickle lookup") {
            var hits = 0
            val s = Util.timed { hits = lookup(r) }
            (s, hits)
          }))
      }.toVector
      readS = rep.op("trickle snapshot reads")(tr.span("reads", "trickle snapshot")(
        ctx.tagged("bench: trickle snapshot read")(Util.timed(snapshotReads()))))
    }

    /** The part of the log the engine has applied. */
    private def applied: Dataset[ChangeEvent] =
      in.log.where(col("epoch") <= timed.lastOption.map(_._1).getOrElse(0L))

    def gate(): Unit = if (warm) Cdc.gate(ctx, eng, applied, Some(dim), label = "trickle")

    def report(): Unit = if (timed.nonEmpty) {
      val events = timed.map { case (e, _, _, _) =>
        eng.state.manifestAt(e).flatMap(_.lineage.get("batchRows")).getOrElse(0L) }.sum
      val applyS = timed.map(_._2)
      val exportS = timed.map(_._3)
      val lookupMs = lookups.map(_._1 * 1000)
      rep.e2e("op_p50_s") = Stats.median(timed.map(x => x._2 + x._3))

      val d = rep.detail
      d("trickle.epochs_timed") = (timed.size.toDouble, "count")
      d("trickle.events_per_epoch") = (events.toDouble / timed.size, "count")
      d("trickle.apply_events_per_s") = (events / applyS.sum, "1/s")
      d("trickle.epoch_latency_p50_s") = (Stats.median(applyS), "s")
      d("trickle.export_p50_s") = (Stats.median(exportS), "s")
      d("trickle.lookup_p50_ms") = (Stats.median(lookupMs), "ms")
      d("trickle.lookups") = (lookupMs.size.toDouble, "count")
      d("trickle.snapshot_read_s") = (readS.getOrElse(0.0), "s")
      d("trickle.storage_bytes_per_input_byte") =
        (Util.treeBytes(eng.warehouse).toDouble / Cdc.contentBytes(applied.toDF()), "ratio")
      // the front end adds the tails of these (run.py `tail`)
      rep.samples("trickle.epoch_latency_s") = applyS
      rep.samples("trickle.lookup_ms") = lookupMs

      if (tr.enabled) {
        val epochs = timed.map(_._1)
        val spans = tr.named("trickle apply").map(s => s.op.stripPrefix("epoch ").toLong -> s).toMap
        Cdc.engineLayers(ctx, "trickle", eng, epochs, windows = spans, sequential = true,
          otherTag = e => s"bench: trickle apply epoch $e")
        Cdc.lakeLayout(ctx, eng, epochs)
        val l = rep.layers
        val listener = ctx.listener.get
        val exports = epochs.map(e =>
          JobListener.sum(listener.jobsWhere(_ == s"bench: trickle export $e")))
        l("export.wall_s") = (Stats.median(exportS), "s")
        l("export.days_rewritten") = (Stats.median(timed.map(_._4.toDouble)), "count")
        l("export.bytes_written") = (Stats.median(exports.map(_.outputBytes.toDouble)), "bytes")
        val lk = JobListener.sum(listener.jobsWhere(_ == "bench: trickle lookup"))
        l("lake.lookup.rows_read_per_hit") =
          (lk.inputRecords.toDouble / math.max(1, lookups.map(_._2).sum), "ratio")
        val reads = JobListener.sum(listener.jobsWhere(_ == "bench: trickle snapshot read"))
        l("lake.snapshot.rows_read") = (reads.inputRecords.toDouble, "count")
        l("lake.snapshot.task_cpu_s") = (reads.cpuNs / 1e9, "s")
      }
    }

    def cleanUp(): Unit = { Util.deleteTree(eng.warehouse); Util.deleteTree(exportDir) }
  }
}
