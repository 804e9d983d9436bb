package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Runs one workload in this JVM and writes a JSON report
  * (metrics, operation counts, correctness checks) to `--out`; `run.py` is
  * the front end that builds this, runs it and prints the result line.
  *
  *   --workload cdc_apply|query_suite  --seed N  --seconds S
  *   --trace 0|1  --work DIR  --out FILE  --sf-dir DIR  --warm-dir DIR
  */
object Main {
  val Cores = 4

  /** Every per-layer metric, with its unit. A traced run reports all of
    * them; a layer the workload does not exercise reads 0.
    */
  def layerCatalogue: Seq[(String, String)] = {
    def engine(p: String, tables: Seq[String], sequential: Boolean) =
      (Seq("epoch_wall_s" -> "s", "driver_gap_s" -> "s", "jobs_per_epoch" -> "count",
        "core_utilization" -> "ratio") ++
        (if (sequential) Seq("unattributed_job_s" -> "s", "reconcile_err_max_s" -> "s") else Nil))
        .map { case (k, u) => s"$p.engine.$k" -> u } ++
      Seq(s"$p.phase.batch_stats.wall_s" -> "s") ++
      Seq("wall_s" -> "s", "task_cpu_s" -> "s", "gc_s" -> "s", "input_bytes" -> "bytes",
        "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes", "task_skew" -> "ratio",
        "prior_rows_per_batch_row" -> "ratio").map { case (k, u) => s"$p.phase.fold.$k" -> u } ++
      (for {
        t <- tables
        (k, u) <- Seq("wall_s" -> "s", "task_cpu_s" -> "s", "bytes_written" -> "bytes",
          "files_written" -> "count")
      } yield s"$p.commit.$t.$k" -> u)
    val lake = Seq("lake.compaction_bytes_rewritten" -> "bytes", "lake.compaction_epochs" -> "count") ++
      Seq("state", "transfers", "enriched").map(t => s"lake.live_files.$t" -> "count") ++
      Seq("lake.lookup.rows_read_per_hit" -> "ratio", "lake.snapshot.rows_read" -> "count",
        "lake.snapshot.task_cpu_s" -> "s")
    val export = Seq("export.wall_s" -> "s", "export.days_rewritten" -> "count",
      "export.bytes_written" -> "bytes")
    val classify = Seq("classify.task_cpu_s" -> "s", "classify.gc_s" -> "s",
      "classify.shuffle_write_bytes" -> "bytes")
    val queries = graft.SparkEntry.queries.keys.toSeq.sorted
      .map(n => s"query.${QuerySuite.short(n)}.wall_s" -> "s") ++
      QuerySuite.Families.sorted.map(f => s"query.family.$f.task_cpu_s" -> "s") ++
      QuerySuite.Heavy.flatMap(h => Seq(s"query.$h.peak_task_mem_mb" -> "MB",
        s"query.$h.shuffle_write_bytes" -> "bytes")) :+
      ("query.cached_relations_after" -> "count")
    val traced = Seq("setup_s" -> "s", "live_heap_mb" -> "MB", "throughput_per_s" -> "1/s",
      "op_p50_s" -> "s").map { case (k, u) => s"traced.$k" -> u }
    engine("bulk", Seq("state", "transfers"), sequential = false) ++
      engine("trickle", Seq("state", "transfers", "enriched"), sequential = true) ++
      lake ++ export ++ classify ++ queries ++ traced
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opt.get("cpu-control").foreach { n =>
      val (cpuS, eff) = graft.Bench.cpuControl(n.toInt)
      println(s"$cpuS $eff")
      return
    }
    val workload = opt("workload")
    val work = java.nio.file.Paths.get(opt("work"))
    java.nio.file.Files.createDirectories(work)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench $workload")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "2g")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = if (opt("trace") == "1") {
      val l = new JobListener(spark)
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    Util.mark("session ready")

    val report = new Report(workload)
    val tracer = new Tracer(listener)
    val ctx = Ctx(spark, opt("seed").toLong, opt("seconds").toDouble, work, tracer, report,
      opt("sf-dir"))
    workload match {
      case "cdc_apply"   => CdcApply.run(ctx, sessionS)
      case "query_suite" => QuerySuite.run(ctx, sessionS, opt("warm-dir"))
      case other           => throw new IllegalArgumentException(s"unknown workload $other")
    }
    report.detail("peak_rss_mb") = (Util.peakRssMb(), "MB")

    val box = report.detail
    box("box.nproc") = (Runtime.getRuntime.availableProcessors.toDouble, "count")
    box("box.cores_used") = (Cores.toDouble, "count")
    box("box.heap_max_mb") = (Runtime.getRuntime.maxMemory / 1048576.0, "MB")
    if (tracer.enabled) {
      report.e2e.foreach { case (k, v) =>
        report.layers(s"traced.$k") = (v, layerCatalogue.toMap.getOrElse(s"traced.$k", ""))
      }
      layerCatalogue.foreach { case (k, u) =>
        if (!report.layers.contains(k)) report.layers(k) = (0.0, u)
      }
      tracer.writeTo(work.resolve("trace.jsonl"))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), report.toJson(
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "oracle_sql" -> graft.SparkEntry.oracleSql))
    Util.mark("report written")
    spark.stop()
  }
}
