package graft.tools

import graft.{Bench, JobProbe, SparkEntry}

/** Optimization-round instrumentation (guide §1): dump `.explain("formatted")`
  * for named declared queries to `plans/<tag>/<query>_<suffix>.txt`, and
  * optionally time each with the noop sink after an untimed warm-up run.
  *
  * Usage: `sbt "runMain graft.tools.PlanDump <tag> <suffix> q1,q2,..."`
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench; PLANDUMP_TIME=1
  * adds 3 timed noop-sink runs per query (median printed).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = if (args.length > 0) args(0) else "r07"
    val suffix = if (args.length > 1) args(1) else "before"
    val names = if (args.length > 2) args(2).split(",").toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val doTime = sys.env.get("PLANDUMP_TIME").contains("1")
    val spark = Bench.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val dir = java.nio.file.Paths.get(s"plans/$tag")
    java.nio.file.Files.createDirectories(dir)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(dir.resolve(s"${name}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      if (doTime) {
        // per-run job-wall accounting: total − Σ(job wall) ≈ driver-side
        // (planning/optimization/codegen) time, the guide §7.3 split
        // PLANDUMP_COLD=1: clear the DF cache before every timed run so
        // operators that cache intermediates (d05/d08/e03) are timed the
        // way the bench sees them — one cold run each, not cache replays
        val cold = sys.env.get("PLANDUMP_COLD").contains("1")
        def run(): (Double, Double) = {
          if (cold) spark.catalog.clearCache()
          var w = 0.0
          val probe = JobProbe(spark) {
            w = Bench.timed(fn(spark, sfDir).write.mode("overwrite").format("noop").save())
          }
          (w, probe.totalJobWallSec)
        }
        val (coldW, _) = run() // warm-up; its wall = the cold (codegen-inclusive) cost
        val rs = Seq.fill(3)(run()).sortBy(_._1)
        val (med, medJobs) = rs(1)
        println(f"[plandump] $name median=$med%.3f jobs=$medJobs%.3f driver=${med - medJobs}%.3f " +
          f"cold=$coldW%.3f runs=${rs.map(t => f"${t._1}%.3f").mkString(",")}")
      } else println(s"[plandump] $name plan written")
    }
    spark.stop()
  }
}
