package perfbench

import graft.cdc.{CdcEngine, CdcPipeline, ChangeEvent, ChangeLogGen, GenConfig}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col

/** The bulk phase of `cdc_apply`: a backfill of a few large epochs.
  * Sessions are epoch-disjoint as the generator stamps them, with hot
  * mega-keys. Warm-up applies the whole log with the pipelined
  * `applyEpochs` (as `CdcIngestJob` does) into a fresh warehouse, reads it
  * back and batch-classifies the log; the timed pass repeats all three, the
  * apply being a replay into another fresh warehouse that must reproduce the
  * first one exactly.
  */
object BulkApply {
  /** ≈100k events in two epochs of ≈50k: large enough that the fold and
    * the commits' task time, not the per-epoch fixed cost, make the apply.
    */
  val Conversations = 20000L
  val HotFragments = 2048
  val Epochs = 2
  val Buckets = 16

  /** The generated log, cached, and one cached batch per epoch (a real
    * binlog tail hands the engine each epoch's batch once).
    */
  final class Input(ctx: Ctx) {
    val cfg: GenConfig = GenConfig(numConversations = Conversations, seed = ctx.seed,
      hotConversations = 4, hotFragments = HotFragments, epochs = Epochs)
    val log: Dataset[ChangeEvent] = ChangeLogGen.generate(ctx.spark, cfg)
      .repartition(ctx.spark.sparkContext.defaultParallelism).cache()
    val events: Long = log.count()
    val byEpoch: Seq[(Long, Dataset[ChangeEvent])] = (0L until Epochs.toLong).map(e =>
      e -> log.where(col("epoch") === e).cache())
    byEpoch.foreach(_._2.count())
  }

  final class Phase(ctx: Ctx, in: Input) {
    private val spark = ctx.spark
    private val rep = ctx.report
    private val tr = ctx.tracer

    /** apply, snapshot read, classify: (engine, seconds of each). */
    private def pass(label: String): Option[(CdcEngine, Double, Double, Double)] = {
      val eng = new CdcEngine(ctx.newDir("bulk-"), numBuckets = Buckets,
        cutoffMicros = Cdc.CutoffMicros)
      for {
        apply <- rep.op(s"bulk $label apply")(tr.span(label, "bulk apply")(
          ctx.tagged(s"bench: bulk $label apply")(Util.timed(eng.applyEpochs(spark, in.byEpoch)))))
        read <- rep.op(s"bulk $label snapshot read")(tr.span(label, "bulk snapshot")(
          ctx.tagged(s"bench: bulk $label snapshot read") {
            Util.timed(eng.currentTransfers(spark).write.mode("overwrite").format("noop").save())
          }))
        cls <- rep.op(s"bulk $label classify")(tr.span(label, "bulk classify")(
          ctx.tagged(s"bench: bulk $label classify") {
            Util.timed(CdcPipeline.classify(in.log, Cdc.CutoffMicros).write
              .mode("overwrite").format("noop").save())
          }))
      } yield (eng, apply, read, cls)
    }

    private var applied: Option[CdcEngine] = None
    private var timed = Vector.empty[(CdcEngine, Double, Double, Double)]

    def warmUp(): Unit = applied = pass("warm-up").map(_._1)

    /** Timed replays until `seconds` have elapsed, at least one. */
    def run(seconds: Double): Unit = {
      val t0 = Util.nowS()
      var go = applied.isDefined
      while (go) {
        pass(s"replay ${timed.size + 1}") match {
          case Some(p) => timed :+= p; go = Util.nowS() - t0 < seconds
          case None    => go = false
        }
      }
      Util.mark(s"bulk passes ${timed.map(p => f"${p._2}%.2f+${p._3}%.2f+${p._4}%.2f").mkString(" ")}")
    }

    /** The applied warehouse against batch classify and the reference model;
      * every replay against it.
      */
    def gate(): Unit = applied.foreach { first =>
      Cdc.gate(ctx, first, in.log, dim = None, label = "bulk").foreach { firstSha =>
        timed.zipWithIndex.foreach { case (p, i) =>
          rep.op(s"bulk replay ${i + 1} identity") {
            val d = Util.symmetricDiff(Cdc.shaRows(p._1.currentTransfers(spark)), firstSha)
            rep.check(s"bulk: replay ${i + 1} sha-identical to apply", d == 0, s"$d differing rows")
          }
        }
      }
    }

    def report(): Unit = if (timed.nonEmpty) {
      val applyS = timed.map(_._2)
      val eventsPerS = in.events * applyS.size / applyS.sum
      rep.e2e("throughput_per_s") = eventsPerS
      val d = rep.detail
      d("bulk.events") = (in.events.toDouble, "count")
      d("bulk.apply_events_per_s") = (eventsPerS, "1/s")
      d("bulk.replay_s") = (Stats.median(applyS), "s")
      d("bulk.classify_events_per_s") = (in.events / Stats.median(timed.map(_._4)), "1/s")
      d("bulk.snapshot_read_s") = (Stats.median(timed.map(_._3)), "s")
      d("bulk.storage_bytes_per_input_byte") =
        (Util.treeBytes(timed.head._1.warehouse).toDouble / Cdc.contentBytes(in.log.toDF()), "ratio")

      if (tr.enabled) {
        val apply = tr.named("bulk apply").find(_.op == "replay 1").get
        Cdc.engineLayers(ctx, "bulk", timed.head._1, (0L until Epochs.toLong),
          windows = (0L until Epochs.toLong).map(_ -> apply).toMap,
          sequential = false, otherTag = _ => "-")
        val classify = ctx.listener.get.jobsWhere(d => d.startsWith("bench: bulk replay") &&
          d.endsWith(" classify")).groupBy(_.desc).values.map(JobListener.sum).toSeq
        val l = rep.layers
        l("classify.task_cpu_s") = (Stats.median(classify.map(_.cpuNs / 1e9)), "s")
        l("classify.gc_s") = (Stats.median(classify.map(_.gcMs / 1e3)), "s")
        l("classify.shuffle_write_bytes") =
          (Stats.median(classify.map(_.shuffleWriteBytes.toDouble)), "bytes")
      }
    }

    def cleanUp(): Unit =
      (applied.toSeq ++ timed.map(_._1)).foreach(e => Util.deleteTree(e.warehouse))
  }
}
