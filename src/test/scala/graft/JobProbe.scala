package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Jobs and shuffle-write bytes per Spark job description, over one body:
  * a listener attributes every task to its job through its stage and is
  * drained with `GraftBridge.drainListenerBus` before it is read.
  */
final class JobProbe private (byDesc: Map[String, (Int, Long)]) {
  def descriptions: Set[String] = byDesc.keySet
  def jobs(desc: String): Int = byDesc.get(desc).fold(0)(_._1)
  def shuffleBytes(desc: String): Long = byDesc.get(desc).fold(0L)(_._2)
  def totalJobs: Int = byDesc.values.map(_._1).sum
  def totalShuffleBytes: Long = byDesc.values.map(_._2).sum
}

object JobProbe {
  def apply(spark: SparkSession)(body: => Unit): JobProbe = {
    val stageDesc = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val jobs = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicInteger]()
    val bytes = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicLong]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val d = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        js.stageInfos.foreach(si => stageDesc.put(si.stageId, d))
        jobs.computeIfAbsent(d, _ => new java.util.concurrent.atomic.AtomicInteger())
          .incrementAndGet()
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) Option(stageDesc.get(te.stageId)).foreach(d =>
          bytes.computeIfAbsent(d, _ => new java.util.concurrent.atomic.AtomicLong())
            .addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      assert(org.apache.spark.sql.graftbridge.GraftBridge.drainListenerBus(spark.sparkContext),
        "listener bus did not drain")
    } finally spark.sparkContext.removeSparkListener(listener)
    new JobProbe(jobs.asScala.map { case (d, n) =>
      d -> (n.get, Option(bytes.get(d)).fold(0L)(_.get))
    }.toMap)
  }
}
