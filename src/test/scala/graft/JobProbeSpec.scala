package graft

import graft.cdc.{CdcEngine, ChangeLogGen, GenConfig}

/** `JobProbe` attributes every Spark metric to the description of the job
  * that ran it, and reads the same numbers from two identical runs.
  */
class JobProbeSpec extends SparkSpec {
  private val day = 24L * 3600 * 1000000L

  test("metrics land under their job description; totals are the sums over descriptions") {
    val narrow = "probe: narrow write"
    val shuffled = "probe: repartitioned write"
    val sc = spark.sparkContext
    val probe = JobProbe(spark) {
      try {
        sc.setJobDescription(narrow)
        spark.range(0, 2000000, 1, 4).write.mode("overwrite").format("noop").save()
        sc.setJobDescription(shuffled)
        spark.range(0, 2000000, 1, 4).repartition(8)
          .write.mode("overwrite").format("noop").save()
      } finally sc.setJobDescription(null)
    }
    assert(probe.descriptions == Set(narrow, shuffled))
    Seq(narrow, shuffled).foreach { d =>
      assert(probe.jobs(d) >= 1, s"$d ran no job")
      assert(probe.jobWallSec(d) > 0.0, s"$d has no job wall")
      assert(probe.taskCpuSec(d) > 0.0, s"$d has no task CPU")
    }
    assert(probe.shuffleBytes(narrow) == 0L)
    assert(probe.shuffleBytes(shuffled) > 0L)
    Seq(narrow, shuffled).foreach { d =>
      assert(probe.deserializeCpuSec(d) > 0.0, s"$d has no task-deserialization CPU")
      assert(probe.outputBytes(d) == 0L, s"$d writes to the noop sink")
    }
    val ds = probe.descriptions.toSeq
    assert(probe.totalJobs == ds.map(probe.jobs).sum)
    assert(probe.totalShuffleBytes == ds.map(probe.shuffleBytes).sum)
    assert(math.abs(probe.totalJobWallSec - ds.map(probe.jobWallSec).sum) < 1e-9)
    assert(math.abs(probe.totalTaskCpuSec - ds.map(probe.taskCpuSec).sum) < 1e-9)
    assert(probe.jobs("never ran") == 0 && probe.shuffleBytes("never ran") == 0L)
    assert(probe.deserializeCpuSec("never ran") == 0.0 && probe.outputBytes("never ran") == 0L)
  }

  test("output bytes are the bytes a file write reports") {
    val dir = tmpDir("jobprobe-out") + "/t"
    val sc = spark.sparkContext
    val probe = JobProbe(spark) {
      sc.setJobDescription("probe: parquet write")
      try spark.range(0, 100000, 1, 2).write.parquet(dir)
      finally sc.setJobDescription(null)
    }
    val onDisk = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.length).sum
    assert(onDisk > 0L)
    assert(probe.outputBytes("probe: parquet write") == onDisk)
  }

  test("the same epoch applied to two fresh warehouses reads equal jobs and shuffle bytes") {
    val log = ChangeLogGen.generate(spark, GenConfig(numConversations = 300, epochs = 2)).cache()
    def epochOne(): JobProbe = {
      val eng = new CdcEngine(tmpDir("jobprobe-wh"), numBuckets = 4, cutoffMicros = 14 * day)
      eng.applyEpoch(spark, log.filter(_.epoch == 0L), 0L)
      JobProbe(spark)(eng.applyEpoch(spark, log.filter(_.epoch == 1L), 1L))
    }
    val (a, b) = (epochOne(), epochOne())
    log.unpersist()
    assert(a.descriptions == b.descriptions)
    assert(a.shuffleBytes("cdc epoch 1: fold + epoch summary") > 0L, "the fold shuffles")
    a.descriptions.foreach { d =>
      assert(a.jobs(d) == b.jobs(d), s"$d: ${a.jobs(d)} vs ${b.jobs(d)} jobs")
      assert(a.shuffleBytes(d) == b.shuffleBytes(d),
        s"$d: ${a.shuffleBytes(d)} vs ${b.shuffleBytes(d)} shuffle bytes")
    }
  }
}
