package perfbench

import graft.cdc.{CdcEngine, CdcPipeline, ChangeEvent, Enrichment}
import graft.lake.{LakeTable, Manifest}
import graft.model.ReferenceModel
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Pieces shared by the two phases of `cdc_apply`: the correctness gate
  * and the per-epoch layer metrics.
  */
object Cdc {
  val CutoffMicros: Long = 14L * 24 * 3600 * 1000000L
  val EnrichCols: Seq[String] = Seq("requesting", "sending").flatMap(p => Seq(
    s"${p}_practice_ods_code", s"${p}_practice_name",
    s"${p}_practice_sicbl_ods_code", s"${p}_practice_sicbl_name"))

  /** Sum of the change log's content bytes (the input size storage is
    * compared with).
    */
  def contentBytes(log: DataFrame): Long =
    log.agg(sum(octet_length(col("content")))).collect()(0).getLong(0)

  def shaRows(transfers: DataFrame): Seq[(String, String)] = {
    import transfers.sparkSession.implicits._
    transfers.select("repo", "row_sha256").as[(String, String)].collect().toSeq
  }

  /** The correctness gate of a warehouse that has applied exactly `log`:
    *  - transfers (repo → row_sha256) equal batch classify of the whole log;
    *  - enriched (when the engine has a dim) equals Enrichment.enrich of it;
    *  - a seeded sample of repos agrees with the independent ReferenceModel.
    * Each is one checked operation; a mismatch is a failed operation.
    * Returns the lake's transfers as (repo, row_sha256) rows, read once for
    * all the checks, or None when that read failed (a failed operation).
    */
  def gate(ctx: Ctx, eng: CdcEngine, log: Dataset[ChangeEvent], dim: Option[DataFrame],
           label: String, sampleSize: Int = 100): Option[Seq[(String, String)]] = {
    val spark = ctx.spark
    import spark.implicits._
    val rep = ctx.report
    val expected = CdcPipeline.withRowSha(CdcPipeline.classify(log, CutoffMicros).toDF()).cache()
    try {
      val lake = rep.op(s"$label: read lake transfers")(shaRows(eng.currentTransfers(spark)))
      lake.foreach { rows =>
        rep.op(s"$label: transfers gate") {
          val d = Util.symmetricDiff(rows, shaRows(expected))
          rep.check(s"$label: transfers == classify(log)", d == 0, s"$d differing rows")
        }
      }
      dim.foreach { dm =>
        rep.op(s"$label: enriched gate") {
          val cols = ("repo" +: "row_sha256" +: EnrichCols).map(col)
          def rows(df: DataFrame) = df.select(cols: _*).collect().toSeq.map(_.toSeq)
          val d = Util.symmetricDiff(rows(eng.currentEnriched(spark)),
            rows(Enrichment.enrich(expected, dm)))
          rep.check(s"$label: enriched == enrich(classify(log))", d == 0, s"$d differing rows")
        }
      }
      lake.foreach { rows =>
        rep.op(s"$label: reference-model sample") {
          val repos = log.select("repo").distinct().as[String].collect().sorted
          val sample = new scala.util.Random(ctx.seed).shuffle(repos.toSeq).take(sampleSize)
          val events = log.where(col("repo").isin(sample: _*)).collect().toSeq
          val model = ReferenceModel.classifyLog(events, CutoffMicros)
            .map(r => r.repo -> r.rowSha).toMap
          val inSample = sample.toSet
          val inLake = rows.filter(r => inSample(r._1)).toMap
          val bad = (model.keySet ++ inLake.keySet).count(k => model.get(k) != inLake.get(k))
          rep.check(s"$label: lake == ReferenceModel on ${sample.size} sampled repos",
            bad == 0 && model.nonEmpty, s"$bad differing repos of ${model.size} classified")
        }
      }
      lake
    } finally expected.unpersist()
  }

  private val Phases = Seq(
    "batch stats + touched buckets" -> "batch_stats",
    "fold + epoch summary" -> "fold",
    "state commit (appendNew)" -> "commit.state",
    "transfers commit (mergeDelta)" -> "commit.transfers",
    "enriched commit (mergeDelta)" -> "commit.enriched")

  /** Every job started inside `window`, by phase: the engine's
    * `cdc epoch N: <phase>` descriptions, "other" for jobs tagged `otherTag`
    * (engine jobs launched before it sets a phase), and "unattributed" for
    * any other job.
    */
  private def epochJobs(l: JobListener, epoch: Long, window: Span,
                        otherTag: String): Map[String, Seq[JobRec]] = {
    val prefix = s"cdc epoch $epoch: "
    l.jobsBetween(window.startMs, window.endMs).groupBy { j =>
      Phases.collectFirst { case (s, n) if j.desc == prefix + s => n }.getOrElse(
        if (j.desc.startsWith(prefix) || j.desc == otherTag) "other" else "unattributed")
    }
  }

  def tables(eng: CdcEngine): Seq[(String, LakeTable)] =
    Seq("state" -> eng.state, "transfers" -> eng.transfers) ++ eng.enriched.map("enriched" -> _)

  private def leafCount(m: Manifest, p: graft.lake.FileEntry => Boolean): Long =
    m.files.filter(p).map(f => math.max(1, f.leaves.size).toLong).sum

  /** Per-layer metrics of the engine over `epochs`, named `<prefix>.…`.
    * `windows` gives each epoch's wall interval: its own span when epochs
    * ran one at a time (`sequential`), or the whole pipelined apply's span,
    * in which epochs overlap and only the apply as a whole has a wall.
    */
  def engineLayers(ctx: Ctx, prefix: String, eng: CdcEngine, epochs: Seq[Long],
                   windows: Map[Long, Span], sequential: Boolean, otherTag: Long => String): Unit = {
    val l = ctx.listener.get
    val out = ctx.report.layers
    val per = epochs.map(e => e -> epochJobs(l, e, windows(e), otherTag(e))).toMap
    def med(f: Long => Double): Double = Stats.median(epochs.map(f))
    def phase(e: Long, p: String): Seq[JobRec] = per(e).getOrElse(p, Seq.empty)
    def windowJobs(e: Long): Seq[JobRec] = per(e).values.flatten.toSeq
    def attributed(e: Long): Seq[JobRec] = (per(e) - "unattributed").values.flatten.toSeq
    def cov(js: Seq[JobRec], w: Span) = JobListener.coveredS(js, w.startMs, w.endMs)
    val cores = ctx.spark.sparkContext.defaultParallelism

    if (sequential) {
      def wall(e: Long): Double = windows(e).wallS
      def gap(e: Long): Double = wall(e) - cov(windowJobs(e), windows(e))
      // phases run in sequence (stats, fold, then the concurrent commits),
      // so their walls plus the driver gap must add up to the epoch wall
      def reconcileErr(e: Long): Double = {
        val w = windows(e)
        val commits = Seq("commit.state", "commit.transfers", "commit.enriched").flatMap(phase(e, _))
        math.abs(cov(phase(e, "batch_stats"), w) + cov(phase(e, "fold"), w) + cov(commits, w) +
          cov(phase(e, "other"), w) + cov(phase(e, "unattributed"), w) + gap(e) - wall(e))
      }
      val err = epochs.map(reconcileErr).max
      ctx.report.check(s"$prefix: epoch phases + driver gap reconcile to epoch wall", err < 1e-3,
        f"largest difference $err%.6f s")
      out(s"$prefix.engine.epoch_wall_s") = (med(wall), "s")
      out(s"$prefix.engine.driver_gap_s") = (med(gap), "s")
      out(s"$prefix.engine.unattributed_job_s") =
        (med(e => cov(phase(e, "unattributed"), windows(e))), "s")
      out(s"$prefix.engine.reconcile_err_max_s") = (err, "s")
      out(s"$prefix.engine.core_utilization") = (epochs.map(e =>
        JobListener.sum(windowJobs(e)).cpuNs / 1e9).sum / (cores * epochs.map(wall).sum), "ratio")
    } else {
      val applies = epochs.map(windows).distinct
      val total = applies.map(_.wallS).sum
      val jobs = applies.map(w => w -> l.jobsBetween(w.startMs, w.endMs))
      out(s"$prefix.engine.epoch_wall_s") = (total / epochs.size, "s")
      out(s"$prefix.engine.driver_gap_s") =
        ((total - jobs.map { case (w, js) => cov(js, w) }.sum) / epochs.size, "s")
      out(s"$prefix.engine.core_utilization") =
        (jobs.map(j => JobListener.sum(j._2).cpuNs / 1e9).sum / (cores * total), "ratio")
    }
    out(s"$prefix.engine.jobs_per_epoch") = (med(e => attributed(e).size.toDouble), "count")
    out(s"$prefix.phase.batch_stats.wall_s") =
      (med(e => JobListener.coveredS(phase(e, "batch_stats"))), "s")

    def fold(e: Long) = JobListener.sum(phase(e, "fold"))
    out(s"$prefix.phase.fold.wall_s") = (med(e => JobListener.coveredS(phase(e, "fold"))), "s")
    out(s"$prefix.phase.fold.task_cpu_s") = (med(e => fold(e).cpuNs / 1e9), "s")
    out(s"$prefix.phase.fold.gc_s") = (med(e => fold(e).gcMs / 1e3), "s")
    out(s"$prefix.phase.fold.input_bytes") = (med(e => fold(e).inputBytes.toDouble), "bytes")
    out(s"$prefix.phase.fold.shuffle_write_bytes") = (med(e => fold(e).shuffleWriteBytes.toDouble), "bytes")
    out(s"$prefix.phase.fold.spill_bytes") = (med(e => fold(e).spillBytes.toDouble), "bytes")
    out(s"$prefix.phase.fold.task_skew") = (med(e => JobListener.taskSkew(phase(e, "fold"))), "ratio")
    // rows the fold's scans read (the prior state; the batch is cached or
    // local) per batch row
    out(s"$prefix.phase.fold.prior_rows_per_batch_row") = (med { e =>
      val batch = eng.state.manifestAt(e).flatMap(_.lineage.get("batchRows")).getOrElse(1L)
      fold(e).inputRecords.toDouble / math.max(1L, batch)
    }, "ratio")

    tables(eng).foreach { case (t, tbl) =>
      def agg(e: Long) = JobListener.sum(phase(e, s"commit.$t"))
      out(s"$prefix.commit.$t.wall_s") = (med(e => JobListener.coveredS(phase(e, s"commit.$t"))), "s")
      out(s"$prefix.commit.$t.task_cpu_s") = (med(e => agg(e).cpuNs / 1e9), "s")
      out(s"$prefix.commit.$t.bytes_written") = (med(e => agg(e).outputBytes.toDouble), "bytes")
      out(s"$prefix.commit.$t.files_written") = (med(e => tbl.manifestAt(e)
        .map(m => leafCount(m, _.epochAdded == e).toDouble).getOrElse(0.0)), "count")
    }
  }

  /** Compaction and layout, from the manifests: the live files each of
    * `epochs`' commits removed, and the live files per table at the end.
    */
  def lakeLayout(ctx: Ctx, eng: CdcEngine, epochs: Seq[Long]): Unit = {
    val out = ctx.report.layers
    var rewritten = 0L
    val compacted = epochs.count { e =>
      tables(eng).map { case (_, t) =>
        (t.manifestAt(e), t.manifestAsOf(e - 1)) match {
          case (Some(cur), Some(prev)) =>
            val live = cur.files.map(_.path).toSet
            val gone = prev.files.filterNot(f => live(f.path))
            rewritten += gone.flatMap(_.leaves).map(_.bytes).sum
            gone.nonEmpty
          case _ => false
        }
      }.exists(identity)
    }
    out("lake.compaction_bytes_rewritten") = (rewritten.toDouble, "bytes")
    out("lake.compaction_epochs") = (compacted.toDouble, "count")
    tables(eng).foreach { case (t, tbl) =>
      out(s"lake.live_files.$t") =
        (tbl.latestManifest().map(m => leafCount(m, _ => true).toDouble).getOrElse(0.0), "count")
    }
  }
}
