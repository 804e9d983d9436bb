package graft.lake

import graft.{JobProbe, SparkSpec}

/** The lake's commit path: what a commit refuses, and what an unaligned
  * commit costs in Spark jobs.
  */
class LakeCommitSpec extends SparkSpec {
  import spark.implicits._

  test("mergeDelta on a table without mergeOnRead fails loudly") {
    val t = new LakeTable(tmpDir("plain-merge") + "/t", numBuckets = 2, keyColumns = Seq("k"))
    t.appendNew(Seq(("a", 1L)).toDF("k", "v"), epoch = 0L)
    // a plain table never resolves versions at read time: a merged second
    // version of "a" would leave both versions in every snapshot
    intercept[IllegalArgumentException] {
      t.mergeDelta(Seq(("a", 2L)).toDF("k", "v"), epoch = 1L)
    }
    assert(t.latestManifest().get.epoch == 0L)
    assert(LakeTable.readSnapshot(t, spark).as[(String, Long)].collect().toSeq == Seq(("a", 1L)))
  }

  test("an unaligned mergeDelta below the compaction threshold runs 4 jobs") {
    val t = new LakeTable(tmpDir("unaligned-jobs") + "/t", numBuckets = 4,
      keyColumns = Seq("k"), mergeOnRead = true)
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
    assert(LakeTable.readSnapshot(t, spark).as[(String, Long)].collect().toMap ==
      keys.map(k => k -> (if (keys.take(10).contains(k)) 1L else 0L)).toMap)
  }
}
