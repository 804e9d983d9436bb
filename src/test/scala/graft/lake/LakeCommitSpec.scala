package graft.lake

import graft.{JobProbe, SparkSpec}

/** The lake's commit path: what an unaligned commit costs in Spark jobs. */
class LakeCommitSpec extends SparkSpec {
  import spark.implicits._

  test("an unaligned mergeDelta below the compaction threshold runs 4 jobs") {
    val t = new LakeTable(tmpDir("unaligned-jobs") + "/t", numBuckets = 4,
      keyColumns = Seq("k"))
    val keys = (0 until 40).map(i => f"k$i%02d")
    t.mergeDelta(keys.map(k => (k, 0L)).toDF("k", "v"), epoch = 0L)
    val probe = JobProbe(spark) {
      spark.sparkContext.setJobDescription("unaligned commit")
      try t.mergeDelta(keys.take(10).map(k => (k, 1L)).toDF("k", "v"), epoch = 1L)
      finally spark.sparkContext.setJobDescription(null)
    }
    // the per-bucket stats query, then the bucket write: with adaptive
    // execution each is a shuffle-map job plus a result job
    assert(probe.jobs("unaligned commit") == 4, s"ran ${probe.jobs("unaligned commit")} jobs")
    assert(t.latestManifest().get.files.filter(_.epochAdded == 1L).map(_.rows).sum == 10L)
    assert(t.snapshot(spark).as[(String, Long)].collect().toMap ==
      keys.map(k => k -> (if (keys.take(10).contains(k)) 1L else 0L)).toMap)
  }
}
