package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Summed task metrics of a set of Spark tasks. */
final class TaskAgg {
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var peakMemBytes = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    inputBytes += m.inputMetrics.bytesRead
    inputRecords += m.inputMetrics.recordsRead
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    outputBytes += m.outputMetrics.bytesWritten
    peakMemBytes = math.max(peakMemBytes, m.peakExecutionMemory)
  }

  def add(o: TaskAgg): Unit = {
    tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    outputBytes += o.outputBytes; peakMemBytes = math.max(peakMemBytes, o.peakMemBytes)
  }
}

/** One Spark job as the listener saw it: the job description it ran under
  * (the engine tags each epoch phase `cdc epoch N: <phase>`; the benchmark
  * tags its own calls), its wall interval in epoch milliseconds, and the
  * task metrics of every task of its stages.
  */
final class JobRec(val id: Int, val desc: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  val agg = new TaskAgg
  /** Per stage: task durations in ms (for the max/median skew ratio). */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** The benchmark's own listener. Everything is kept in memory; readers call
  * `drain()` first, which blocks until the listener bus has delivered every
  * queued event (no sleeps).
  */
final class JobListener(spark: SparkSession) extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val byId = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, JobRec]

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    val rec = new JobRec(js.jobId, desc, js.time)
    jobs += rec
    byId(js.jobId) = rec
    js.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = rec)
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    byId.get(je.jobId).foreach(_.endMs = je.time)
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
    if (te.taskMetrics != null) stageJob.get(te.stageId).foreach { rec =>
      rec.agg.add(te.taskMetrics)
      rec.stageTaskMs.getOrElseUpdate(te.stageId, mutable.ArrayBuffer.empty[Long]) +=
        te.taskInfo.duration
    }
  }

  def drain(): Unit =
    if (!org.apache.spark.sql.graftbridge.GraftBridge.drainListenerBus(spark.sparkContext))
      throw new IllegalStateException("listener bus did not drain within 60 s")

  /** Completed jobs whose description satisfies `p`. */
  def jobsWhere(p: String => Boolean): Seq[JobRec] = synchronized {
    jobs.filter(j => j.endMs >= 0 && p(j.desc)).toSeq
  }

  /** Completed jobs that started inside [fromMs, toMs]. */
  def jobsBetween(fromMs: Long, toMs: Long): Seq[JobRec] = synchronized {
    jobs.filter(j => j.endMs >= 0 && j.startMs >= fromMs && j.startMs <= toMs).toSeq
  }
}

object JobListener {
  /** Length of the union of the jobs' wall intervals, in seconds, clipped
    * to [fromMs, toMs].
    */
  def coveredS(js: Seq[JobRec], fromMs: Long = Long.MinValue,
               toMs: Long = Long.MaxValue): Double = {
    val iv = js.map(j => (math.max(j.startMs, fromMs), math.min(j.endMs, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total / 1000.0
  }

  def sum(js: Seq[JobRec]): TaskAgg = {
    val t = new TaskAgg
    js.foreach(j => t.add(j.agg))
    t
  }

  /** max ÷ median task time of the busiest stage (by summed task time). */
  def taskSkew(js: Seq[JobRec]): Double = {
    val stages = js.flatMap(_.stageTaskMs.values).filter(_.nonEmpty)
    if (stages.isEmpty) 0.0
    else {
      val ds = stages.maxBy(_.sum).sorted
      val med = math.max(1L, ds(ds.size / 2))
      ds.last.toDouble / med
    }
  }
}

/** A span around one call into a program layer. Spans of one operation share
  * `op` (e.g. "epoch 7"); `parent` is the enclosing span's id, or -1.
  */
final case class Span(id: Int, parent: Int, op: String, name: String,
                      startMs: Long, endMs: Long) {
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** Span recorder. With tracing off it records nothing, so untraced runs pay
  * no bookkeeping; timing of the measured operations is done by the
  * workloads themselves either way.
  */
final class Tracer(val listener: Option[JobListener]) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0

  def enabled: Boolean = listener.isDefined

  def span[A](op: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get().headOption.getOrElse(-1)
      stack.set(id :: stack.get())
      val t0 = System.currentTimeMillis()
      try body
      finally {
        val t1 = System.currentTimeMillis()
        stack.set(stack.get().tail)
        synchronized { spans += Span(id, parent, op, name, t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toSeq)
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Write the spans and the listener's jobs as JSON lines. */
  def writeTo(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.foreach { s =>
      sb.append(Json.obj("kind" -> "span", "id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)).append('\n')
    }
    listener.foreach(_.jobsWhere(_ => true).foreach { j =>
      sb.append(Json.obj("kind" -> "job", "id" -> j.id, "desc" -> j.desc,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "tasks" -> j.agg.tasks,
        "cpu_s" -> j.agg.cpuNs / 1e9, "gc_s" -> j.agg.gcMs / 1e3,
        "input_bytes" -> j.agg.inputBytes, "shuffle_write_bytes" -> j.agg.shuffleWriteBytes,
        "output_bytes" -> j.agg.outputBytes)).append('\n')
    })
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
