package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.GraftBridge
import scala.collection.mutable

/** Spark metrics per job description (`spark.job.description`) over one
  * body: jobs, job wall (job end minus job start, summed over jobs), task
  * CPU (`executorCpuTime`), task-deserialization CPU
  * (`executorDeserializeCpuTime`), shuffle-write bytes and output bytes
  * (`outputMetrics.bytesWritten`). A task is attributed
  * to the description of the job that submitted its stage. The one listener
  * the tools and tests read Spark metrics through; it is drained with
  * `GraftBridge.drainListenerBus` before it is read, and a bus that does not
  * drain throws rather than hand back a partial reading.
  */
final class JobProbe private (byDesc: Map[String, JobProbe.Totals]) {
  private def get(desc: String): JobProbe.Totals =
    byDesc.getOrElse(desc, new JobProbe.Totals)
  def descriptions: Set[String] = byDesc.keySet
  def jobs(desc: String): Int = get(desc).jobs
  def shuffleBytes(desc: String): Long = get(desc).shuffleBytes
  def jobWallSec(desc: String): Double = get(desc).wallMs / 1e3
  def taskCpuSec(desc: String): Double = get(desc).cpuNs / 1e9
  def deserializeCpuSec(desc: String): Double = get(desc).deserializeCpuNs / 1e9
  def outputBytes(desc: String): Long = get(desc).outputBytes
  def totalJobs: Int = byDesc.values.map(_.jobs).sum
  def totalShuffleBytes: Long = byDesc.values.map(_.shuffleBytes).sum
  def totalJobWallSec: Double = byDesc.values.map(_.wallMs).sum / 1e3
  def totalTaskCpuSec: Double = byDesc.values.map(_.cpuNs).sum / 1e9
}

object JobProbe {
  private final class Totals {
    var jobs = 0
    var wallMs = 0L
    var cpuNs = 0L
    var deserializeCpuNs = 0L
    var shuffleBytes = 0L
    var outputBytes = 0L
  }

  /** Every callback holds the listener's lock: the bus delivers on its own thread. */
  private final class Listener extends SparkListener {
    private val stageDesc = mutable.Map.empty[Int, String]
    private val jobStart = mutable.Map.empty[Int, (String, Long)]
    private val byDesc = mutable.Map.empty[String, Totals]
    private def totals(d: String) = byDesc.getOrElseUpdate(d, new Totals)

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      val d = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      js.stageInfos.foreach(si => stageDesc(si.stageId) = d)
      jobStart(js.jobId) = (d, js.time)
      totals(d).jobs += 1
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(je.jobId).foreach { case (d, t0) => totals(d).wallMs += je.time - t0 }
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
      if (te.taskMetrics != null) stageDesc.get(te.stageId).foreach { d =>
        val t = totals(d)
        t.cpuNs += te.taskMetrics.executorCpuTime
        t.deserializeCpuNs += te.taskMetrics.executorDeserializeCpuTime
        t.shuffleBytes += te.taskMetrics.shuffleWriteMetrics.bytesWritten
        t.outputBytes += te.taskMetrics.outputMetrics.bytesWritten
      }
    }
    def result: Map[String, Totals] = synchronized(byDesc.toMap)
  }

  def apply(spark: SparkSession)(body: => Unit): JobProbe = {
    val listener = new Listener
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      if (!GraftBridge.drainListenerBus(spark.sparkContext))
        throw new IllegalStateException("listener bus did not drain: the job metrics are partial")
    } finally spark.sparkContext.removeSparkListener(listener)
    new JobProbe(listener.result)
  }
}
