package perfbench

import graft.SparkEntry

/** `query_suite`: the declared `SparkEntry.queries` over the sf0.1 tables,
  * in name order. The inputs are the fixed scale-factor tables, so the seed
  * changes nothing here. Set-up runs every query once on the sf0.01
  * tables and writes its result as parquet; the front end checks those
  * results against the oracle SQL with DuckDB (the scale the oracle is
  * validated at: several oracle queries are quadratic and do not finish at
  * sf0.1 within a run). The timed pass runs every query on sf0.1 into the
  * no-op sink, as `graft.Bench` does.
  */
object QuerySuite {
  /** Families, by name prefix (mi before m). */
  val Families: Seq[String] = Seq("mi", "q", "c", "d", "e", "m")
  val Heavy: Seq[String] = Seq("d05", "d08", "d09", "e03", "mi01")

  def family(name: String): String = Families.find(name.startsWith).get
  def short(name: String): String = name.takeWhile(_ != '_')

  def run(ctx: Ctx, sessionS: Double, warmDir: String): Unit = {
    val spark = ctx.spark
    val rep = ctx.report
    val names = SparkEntry.queries.keys.toSeq.sorted
    val outRoot = ctx.newDir("queries-")

    // warm-up and correctness pass: every query once, same order, on the
    // small scale factor, results kept for the oracle check
    val warmS = Util.timed {
      names.foreach { n =>
        val out = s"$outRoot/$n"
        rep.op(s"warm-up $n")(ctx.tagged(s"warm-up $n") {
          SparkEntry.queries(n)(spark, warmDir).write.mode("overwrite").parquet(out)
          rep.queryOutputs(n) = out
        })
      }
    }
    Util.mark("warmed up")

    val times = names.flatMap { n =>
      rep.op(s"query $n")(ctx.tracer.span(s"query $n", "query")(ctx.tagged(s"query $n") {
        Util.timed(SparkEntry.queries(n)(spark, ctx.sfDir).write.mode("overwrite").format("noop").save())
      })).map(n -> _)
    }.toMap
    Util.mark("timed pass done")
    if (times.isEmpty) return
    val total = times.values.sum

    rep.e2e("setup_s") = sessionS + warmS
    rep.e2e("live_heap_mb") = Util.liveHeapMb()
    rep.e2e("op_p50_s") = Stats.median(times.values.toSeq)
    rep.e2e("throughput_per_s") = times.size / total

    val d = rep.detail
    d("queries_s") = (total, "s")
    d("queries_geomean_s") = (Stats.geomean(times.values.toSeq), "s")
    d("queries_run") = (times.size.toDouble, "count")
    d("warmup_s") = (warmS, "s")

    if (ctx.tracer.enabled) {
      val l = ctx.listener.get
      l.drain()
      val out = rep.layers
      names.sorted.foreach(n => out(s"query.${short(n)}.wall_s") = (times.getOrElse(n, 0.0), "s"))
      Families.sorted.foreach { f =>
        val js = l.jobsWhere(d => d.startsWith("query ") && family(d.stripPrefix("query ")) == f)
        out(s"query.family.$f.task_cpu_s") = (JobListener.sum(js).cpuNs / 1e9, "s")
      }
      Heavy.foreach { h =>
        val agg = JobListener.sum(l.jobsWhere(d => d.startsWith(s"query ${h}_")))
        out(s"query.$h.peak_task_mem_mb") = (agg.peakMemBytes / 1048576.0, "MB")
        out(s"query.$h.shuffle_write_bytes") = (agg.shuffleWriteBytes.toDouble, "bytes")
      }
    }
    // cached relations left behind by the operators (a leak count)
    if (ctx.tracer.enabled)
      rep.layers("query.cached_relations_after") =
        (spark.sparkContext.getPersistentRDDs.size.toDouble, "count")
  }
}
