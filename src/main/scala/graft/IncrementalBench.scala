package graft

import graft.cdc.{CdcEngine, ChangeLogGen, GenConfig}

/** Steady-state incremental apply benchmark — the measurement behind the
  * merge-on-read design: bulk-load a large table, then apply small epochs
  * (a fixed number of sessions each) and report per-epoch seconds and WRITE
  * AMPLIFICATION (transfer rows physically written per epoch ÷ sessions
  * touched). Runs the same workload in two compaction modes:
  *
  *  - mor: merge-on-read deltas, compacted inline — amplification ≈ 1;
  *  - async: the same deltas, compaction deferred to `maintain()` epochs.
  *
  * Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_CDC_CONV (table sessions),
  * SPARK_GRAFT_BATCH (sessions per incremental epoch), SPARK_GRAFT_BATCHES.
  */
object IncrementalBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val conv = sys.env.getOrElse("SPARK_GRAFT_CDC_CONV", "200000").toLong
    val batchSessions = sys.env.getOrElse("SPARK_GRAFT_BATCH", "4000").toLong
    val batches = sys.env.getOrElse("SPARK_GRAFT_BATCHES", "4").toInt
    val day = 24L * 3600 * 1000000L
    val spark = Bench.session(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // the bulk load is every session beyond the incremental slices; each
    // incremental epoch then delivers one slice of `batchSessions` sessions
    // (applyEpoch re-stamps, so the generator's own epoch field is moot)
    val cfg = GenConfig(numConversations = conv, hotConversations = 4,
      hotFragments = 1024, epochs = 1)
    val log = ChangeLogGen.generate(spark, cfg)
      .repartition(spark.sparkContext.defaultParallelism).cache()
    val n = log.count()
    def repoName(i: Long) = f"repo-$i%010d"
    val bulkLo = repoName(batches * batchSessions)

    // modes: (label, compact inline?) — "async" defers compaction to
    // maintain() between epochs, so ingest epochs never pay the rewrite
    // (worst ≈ median); the rewrite cost moves to separately-timed
    // maintenance commits.
    val modes = Seq(("mor", true), ("async", false))
    val results = modes.map { case (mode, inline) =>
      val wh = java.nio.file.Files.createTempDirectory(s"inc-$mode").toString
      val eng = new CdcEngine(wh, numBuckets = 64, cutoffMicros = 14 * day,
        inlineCompaction = inline)
      val bulkSec = Bench.timed(
        eng.applyEpoch(spark, log.filter(_.repo >= bulkLo), 0L))
      val maintSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
      val epochSecs = (0 until batches).map { j =>
        val lo = repoName(j * batchSessions)
        val hi = repoName((j + 1) * batchSessions)
        val batch = log.filter(e => e.repo >= lo && e.repo < hi)
        val sec = Bench.timed(eng.applyEpoch(spark, batch, 1L + 2L * j))
        if (!inline) // out-of-band maintenance as its own epoch number
          maintSecs += Bench.timed(eng.maintain(spark, 2L + 2L * j))
        sec
      }
      // physical transfer rows added by the incremental INGEST epochs
      // (manifest lineage — no extra job): write amplification vs sessions
      // touched; maintenance rewrites are reported separately, not counted
      // as ingest amplification
      val m = eng.transfers.latestManifest().get
      val ingestEpochs = (0 until batches).map(j => 1L + 2L * j).toSet
      val rowsAdded = m.files.filter(f => f.epochAdded >= 1L &&
        (inline || ingestEpochs.contains(f.epochAdded))).map(_.rows).sum
      val amp = rowsAdded.toDouble / (batchSessions * batches)
      (mode, bulkSec, epochSecs, rowsAdded, amp, maintSecs.toSeq)
    }

    log.unpersist()
    val parts = results.map { case (mode, bulkSec, epochSecs, rowsAdded, amp, maintSecs) =>
      val avg = epochSecs.sum / epochSecs.size
      val sortedSecs = epochSecs.sorted
      val median = sortedSecs(sortedSecs.size / 2)
      val maint = if (maintSecs.isEmpty) ""
        else f""","${mode}_maint_secs":[${maintSecs.map(s => f"$s%.2f").mkString(",")}]"""
      f""""${mode}_bulk_sec":$bulkSec%.2f,"${mode}_epoch_secs":[${epochSecs.map(s => f"$s%.2f").mkString(",")}],""" +
      f""""${mode}_avg_epoch_sec":$avg%.2f,"${mode}_median_epoch_sec":$median%.2f,""" +
      f""""${mode}_worst_epoch_sec":${epochSecs.max}%.2f,""" +
      f""""${mode}_rows_written":$rowsAdded,"${mode}_write_amplification":$amp%.2f""" + maint
    }
    println(
      s"""{"metric":"incremental_apply","events":$n,"table_sessions":$conv,""" +
      s""""batch_sessions":$batchSessions,"batches":$batches,"cpus":"$cpus",""" +
      parts.mkString(",") + "}")
    spark.stop()
  }
}
