package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** Minimal JSON rendering for the benchmark's outputs. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def obj(kv: (String, Any)*): String = render(mutable.LinkedHashMap(kv: _*))
  def render(v: Any): String = mapper.writeValueAsString(v)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]); 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-6))).sum / xs.size)
}

/** What one run reports back to the Python front end. */
final class Report(val workload: String) {
  /** Gated end-to-end metrics (the names in BENCHMARK.json). */
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  /** The workload's own named end-to-end figures, with units. */
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Latency samples by name (unit in the name's suffix); the front end
    * computes their tail percentiles, per run and pooled over a run set.
    */
  val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
  /** Per-layer metrics from the traced run, with units. */
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  /** Query results written for the DuckDB oracle check: name → parquet dir. */
  val queryOutputs = mutable.LinkedHashMap.empty[String, String]

  /** Run one counted operation. An exception is a failed operation: it is
    * logged to stderr and None is returned; nothing is dropped silently.
    */
  def op[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(t) =>
        failed += 1
        System.err.println(s"[perfbench] operation failed: $what")
        t.printStackTrace(System.err)
        None
    }
  }

  /** A correctness check: one attempted operation, failed when !ok. */
  def check(name: String, ok: Boolean, info: String = ""): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks += ((name, ok, info))
    System.err.println(s"[perfbench] check $name: ${if (ok) "ok" else "MISMATCH"} $info")
  }

  def toJson(extra: (String, Any)*): String = Json.render(mutable.LinkedHashMap(extra: _*) ++ mutable.LinkedHashMap(
    "workload" -> workload,
    "attempted" -> attempted,
    "failed" -> failed,
    "e2e" -> e2e,
    "detail" -> detail.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "samples" -> samples,
    "layers" -> layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "checks" -> checks.map { case (n, ok, i) => Map("name" -> n, "ok" -> ok, "info" -> i) },
    "query_outputs" -> queryOutputs,
  ))
}

/** Everything a workload needs. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                     work: java.nio.file.Path, tracer: Tracer, report: Report,
                     sfDir: String) {
  def listener: Option[JobListener] = tracer.listener

  def newDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(work, prefix).toString

  /** Tag the jobs the body launches (the listener keys on the description). */
  def tagged[A](desc: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body
    finally sc.setJobDescription(prev)
  }
}

object Util {
  def nowS(): Double = System.nanoTime() / 1e9

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Log a progress mark with the seconds since the JVM started. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%7.2f s  $what")

  /** Seconds taken by `body`. */
  def timed(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  /** Heap in use right after a full collection, in MiB: the memory the
    * program retains at that point (caches, driver-side state, leaks).
    */
  def liveHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    // a collection lets Spark's ContextCleaner drop the blocks of persisted
    // RDDs that became unreachable, which only a later collection frees:
    // collect until the figure settles
    var prev = Double.MaxValue
    var cur = collect()
    while (prev - cur > 1.0) {
      Thread.sleep(200)
      prev = cur
      cur = collect()
    }
    cur
  }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Bytes of every regular file under `dir`. */
  def treeBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val walk = java.nio.file.Files.walk(p)
      try walk.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally walk.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(q => java.nio.file.Files.deleteIfExists(q))
      finally walk.close()
    }
  }

  /** Rows of `a` not in `b` plus rows of `b` not in `a`, as multisets. */
  def symmetricDiff[A](a: Seq[A], b: Seq[A]): Long = {
    def bag(xs: Seq[A]) = xs.groupBy(identity).map { case (k, v) => k -> v.size }
    val (x, y) = (bag(a), bag(b))
    (x.keySet ++ y.keySet).toSeq.map(k => math.abs(x.getOrElse(k, 0) - y.getOrElse(k, 0)).toLong).sum
  }
}
