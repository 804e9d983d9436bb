package graft.lake

import graft.{JobProbe, SparkSpec}
import org.apache.spark.sql.functions._

/** Bucket-local merge-on-read resolution: one task reads all of a bucket's
  * files and keeps each key's newest version, so snapshots, lookups and
  * compaction resolve with no exchange — and the scan claims no partitioning
  * a join could wrongly trust.
  */
class BucketLocalSpec extends SparkSpec {
  import spark.implicits._

  private val keys = (0 until 40).map(i => f"k$i%02d")

  /** Every bucket holds one file per epoch; the newest version of every
    * key is (k, 10 * last epoch + key index). */
  private def multiFileTable(name: String, epochs: Int): LakeTable = {
    val t = new LakeTable(tmpDir(name) + "/t", numBuckets = 4,
      keyColumns = Seq("k"), compactThreshold = 99)
    (0 until epochs).foreach { e =>
      t.mergeDelta(keys.zipWithIndex.map { case (k, i) => (k, 10L * e + i) }.toDF("k", "v"),
        e.toLong)
    }
    assert(t.latestManifest().get.files.groupBy(_.bucket).values.forall(_.size == epochs))
    t
  }

  private def tagged[A](d: String)(body: => A): A = {
    spark.sparkContext.setJobDescription(d)
    try body finally spark.sparkContext.setJobDescription(null)
  }

  test("multi-file snapshots and lookups resolve without writing shuffle bytes") {
    val t = multiFileTable("bl-reads", epochs = 3)
    val plan = t.snapshot(spark).queryExecution.executedPlan.toString
    assert(plan.contains("BucketLocalParquet") && !plan.contains("Exchange"),
      s"multi-file buckets must resolve in the scan, with no exchange:\n$plan")

    var snap = Map.empty[String, Long]
    var hit = Seq.empty[Long]
    val probe = JobProbe(spark) {
      snap = tagged("snapshot")(t.snapshot(spark).select("k", "v").as[(String, Long)]
        .collect().toMap)
      hit = tagged("lookup")(t.lookup(spark, Map("k" -> "k07")).select("v").as[Long]
        .collect().toSeq)
    }
    assert(snap == keys.zipWithIndex.map { case (k, i) => k -> (20L + i) }.toMap)
    assert(hit == Seq(27L))
    Seq("snapshot", "lookup").foreach { d =>
      assert(probe.jobs(d) >= 1, s"no job tagged '$d': ${probe.descriptions}")
      assert(probe.shuffleBytes(d) == 0L, s"$d must resolve bucket-locally")
    }
  }

  test("compaction output equals an independent fold over every committed upsert") {
    // LakeMorSpec's randomized schedules: deltas with and without inline
    // compaction, interleaved standalone compactions
    var compactions = 0
    (1 to 5).foreach { seed =>
      val rng = new scala.util.Random(seed)
      val t = new LakeTable(tmpDir(s"bl-fold-$seed") + "/t", numBuckets = 3,
        keyColumns = Seq("k"), compactThreshold = 2)
      val ks = ('a' to 'f').map(_.toString)
      val bucketOf = ks.toDF("k").select(col("k"), pmod(xxhash64(col("k")), lit(3)).cast("int"))
        .as[(String, Int)].collect().toMap
      var latest = Map.empty[String, (Long, Long)] // k → (v, __epoch)
      var epoch = 0L

      // every file set a commit at `e` compacted into must hold exactly the
      // fold's newest version of each of its bucket's keys, __epoch included
      def checkCompactions(e: Long): Unit =
        t.latestManifest().get.files
          .filter(f => f.epochAdded == e && f.path.contains("c/__bucket=")).foreach { f =>
            compactions += 1
            val got = spark.read.parquet(s"${t.root}/${f.path}")
              .select("k", "v", "__epoch").as[(String, Long, Long)].collect()
            val want = latest.filter { case (k, _) => bucketOf(k) == f.bucket }
              .map { case (k, (v, ep)) => (k, v, ep) }
            assert(got.length == got.map(_._1).distinct.length,
              s"seed=$seed e=$e: one row per key")
            assert(got.toSet == want.toSet, s"seed=$seed e=$e bucket=${f.bucket}")
            assert(f.rows == got.length.toLong, s"seed=$seed e=$e: manifest row count")
          }

      (0 until 6).foreach { _ =>
        val picked = rng.shuffle(ks).take(1 + rng.nextInt(ks.size))
        val upserts = picked.map(k => (k, epoch * 100 + rng.nextInt(100).toLong))
        t.mergeDelta(upserts.toDF("k", "v"), epoch, compactInline = rng.nextBoolean())
        latest ++= upserts.map { case (k, v) => k -> (v, epoch) }
        checkCompactions(epoch)
        epoch += 1
        if (rng.nextBoolean()) {
          t.compact(spark, epoch)
          checkCompactions(epoch)
          epoch += 1
        }
      }
      t.compact(spark, epoch)
      checkCompactions(epoch)
    }
    assert(compactions > 0, "the schedules must compact")
  }

  test("a non-key predicate never brings back a superseded version") {
    // each version sits in its own file, so a value predicate that reached
    // the parquet readers would prune the newer file's row group and let
    // the older version win resolution
    val t = multiFileTable("bl-nonkey", epochs = 2)
    assert(t.snapshot(spark).filter(col("v") === 7L).isEmpty,
      "k07's epoch-0 version (v = 7) was superseded at epoch 1")
    assert(t.snapshot(spark).filter(col("v") === 17L).select("k").as[String]
      .collect().toSeq == Seq("k07"))
    assert(t.lookup(spark, Map("k" -> "k07")).filter(col("v") === 7L).isEmpty)
  }

  test("a multi-file snapshot joined to a Spark-shuffled frame pairs rows correctly") {
    val t = multiFileTable("bl-join", epochs = 2)
    val other = keys.zipWithIndex.map { case (k, i) => (k, i * 7L) }.toDF("k", "w")
      .repartition(7, col("k"))
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffled join
    try {
      val snap = t.snapshot(spark).select("k", "v")
      val joined = snap.join(other, "k").select("k", "v", "w")
      assert(joined.queryExecution.executedPlan.toString.contains("BucketLocalParquet"))
      val got = joined.as[(String, Long, Long)].collect().toSet
      val right = other.as[(String, Long)].collect().toMap
      val want = snap.as[(String, Long)].collect()
        .flatMap { case (k, v) => right.get(k).map(w => (k, v, w)) }.toSet
      assert(want.size == keys.size)
      assert(got == want)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("a manifest entry without leaf files fails the read loudly") {
    val t = multiFileTable("bl-leafless", epochs = 1)
    val m = t.latestManifest().get
    t.writeManifestAtomically(m.copy(epoch = 1L, parentEpoch = 0L,
      files = m.files.map(_.copy(leaves = Seq.empty))))
    val e = intercept[IllegalStateException](t.snapshot(spark).collect())
    assert(e.getMessage.contains("no leaf files"), e.getMessage)
  }
}
