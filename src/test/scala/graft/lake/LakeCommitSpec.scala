package graft.lake

import graft.{JobProbe, SparkSpec}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The lake's commit path: what an unaligned commit costs in Spark jobs,
  * what a failed write leaves behind, and which tables can be declared.
  */
class LakeCommitSpec extends SparkSpec {
  import spark.implicits._

  Seq[(String, String => LakeTable)](
    "numBuckets = 0" -> (r => new LakeTable(r, numBuckets = 0, keyColumns = Seq("k"))),
    "compactThreshold = 0" ->
      (r => new LakeTable(r, numBuckets = 4, keyColumns = Seq("k"), compactThreshold = 0)),
    "changeRetention = -1" ->
      (r => new LakeTable(r, numBuckets = 4, keyColumns = Seq("k"), changeRetention = -1)),
    "no key columns" -> (r => new LakeTable(r, numBuckets = 4, keyColumns = Seq.empty)),
    "bucket columns that are not a key prefix" ->
      (r => new LakeTable(r, numBuckets = 4, keyColumns = Seq("a", "b"),
        bucketColumns = Seq("b"))),
  ).foreach { case (what, table) =>
    test(s"a table with $what is rejected at construction") {
      val root = tmpDir("bad-table") + "/t"
      intercept[IllegalArgumentException](table(root))
      assert(!new java.io.File(root).exists(), "a rejected table must write nothing")
    }
  }

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

  test("a write that fails partway publishes nothing; the same epoch then commits cleanly") {
    val t = new LakeTable(tmpDir("failed-write") + "/t", numBuckets = 4,
      keyColumns = Seq("k"), compactThreshold = 1)
    val keys = (0 until 40).map(i => f"k$i%02d")
    t.mergeDelta(keys.map(k => (k, 0L)).toDF("k", "v"), epoch = 0L)
    // only the value column fails, so the commit's count query passes and
    // the failure lands inside the write job — a compacting one, since
    // every touched bucket already holds a file
    val failOn = udf((k: String, v: Long) =>
      if (k == "k13") throw new IllegalStateException("bad row") else v)
    val upserts = keys.map(k => (k, 1L)).toDF("k", "v")
    intercept[org.apache.spark.SparkException] {
      t.mergeDelta(upserts.withColumn("v", failOn(col("k"), col("v"))), epoch = 1L)
    }
    assert(t.latestManifest().get.epoch == 0L, "a failed write must publish nothing")
    assert(t.snapshot(spark).as[(String, Long)].collect().toMap == keys.map(_ -> 0L).toMap)
    def dataFiles(): Set[String] = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(t.root, "data"))
      try walk.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
      finally walk.close()
    }
    val before = dataFiles()

    t.mergeDelta(upserts, epoch = 1L)
    val m = t.latestManifest().get
    assert(m.epoch == 1L)
    val added = m.files.filter(_.epochAdded == 1L)
      .flatMap(f => f.leaves.map(l => s"${t.root}/${f.path}/${l.name}")).toSet
    assert(added == dataFiles() -- before, "the manifest lists exactly the retry's files")
    assert(m.files.forall(_.path.contains("c/__bucket=")), s"the retry compacts: ${m.files}")
    assert(t.snapshot(spark).as[(String, Long)].collect().toMap == keys.map(_ -> 1L).toMap)
  }
}
