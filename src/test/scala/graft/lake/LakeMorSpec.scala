package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Merge-on-read resolution under randomized (seeded) schedules: any
  * interleaving of delta commits (with and without inline compaction) and
  * standalone compaction commits must resolve to exactly the
  * last-writer-wins key→value map, at the head and at any time-travel point.
  */
class LakeMorSpec extends SparkSpec {
  import spark.implicits._

  test("random delta/COW schedules resolve to last-writer-wins at every epoch") {
    (1 to 5).foreach { seed =>
      val rng = new scala.util.Random(seed)
      val t = new LakeTable(tmpDir(s"mor-prop-$seed") + "/t", numBuckets = 3,
        keyColumns = Seq("k"), compactThreshold = 2)
      val keys = ('a' to 'f').map(_.toString)
      var expectedAt = Map.empty[Long, Map[String, Long]] // epoch → lww map
      var current = Map.empty[String, Long]
      var epoch = 0L

      (0 until 6).foreach { _ =>
        val picked = rng.shuffle(keys).take(1 + rng.nextInt(keys.size))
        val upserts = picked.map(k => (k, epoch * 100 + rng.nextInt(100).toLong))
        t.mergeDelta(upserts.toDF("k", "v"), epoch, compactInline = rng.nextBoolean())
        current = current ++ upserts.toMap
        expectedAt += (epoch -> current)
        epoch += 1
        // copy-on-write interleave: a standalone compaction physically
        // resolves the over-threshold buckets, so later deltas land on a
        // mix of resolved and delta-holding buckets
        if (rng.nextBoolean()) {
          t.compact(spark, epoch)
          expectedAt += (epoch -> current)
          epoch += 1
        }
      }
      // a final maintenance compaction catches up the deferred buckets
      t.compact(spark, epoch)
      expectedAt += (epoch -> current)

      // head + every historical epoch resolve to the expected map
      expectedAt.foreach { case (epoch, want) =>
        val got = t.snapshot(spark, asOf = epoch)
          .select("k", "v").as[(String, Long)].collect().toMap
        assert(got == want, s"seed=$seed asOf=$epoch: $got != $want")
      }
      // bounds-pruned point lookups agree with the resolved map at the head
      // (and at one historical epoch) for every key, present or not
      val headWant = expectedAt(epoch)
      (keys :+ "zz-missing").foreach { k =>
        val hit = t.lookup(spark, Map("k" -> k)).select("v").as[Long].collect().toSeq
        assert(hit == headWant.get(k).toSeq, s"seed=$seed lookup($k): $hit")
        val hist = t.lookup(spark, Map("k" -> k), asOf = 2L)
          .select("v").as[Long].collect().toSeq
        assert(hist == expectedAt(2L).get(k).toSeq, s"seed=$seed lookup($k,asOf=2): $hist")
      }
      // compaction actually bounded the per-bucket file count
      val perBucket = t.latestManifest().get.files.groupBy(_.bucket).map(_._2.size)
      assert(perBucket.forall(_ <= 2 * 2), s"seed=$seed files per bucket: $perBucket")
    }
  }

  test("snapshot reads are manifest-planned: exact file set, no listing index") {
    val t = new LakeTable(tmpDir("mplan") + "/t", numBuckets = 3,
      keyColumns = Seq("k"))
    t.mergeDelta(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), 0L)
    t.mergeDelta(Seq(("b", 3L), ("c", 4L)).toDF("k", "v"), 1L)

    // every committed entry carries its leaf files with exact sizes
    val m = t.latestManifest().get
    assert(m.files.forall(_.leaves.nonEmpty), "commit must record leaf files")
    m.files.foreach(f => f.leaves.foreach { l =>
      val p = java.nio.file.Paths.get(t.root, f.path, l.name)
      assert(java.nio.file.Files.size(p) == l.bytes, s"stale size for $p")
    })

    // the scan plans over ManifestFileIndex (zero-listing), not Spark's
    // listing-based InMemoryFileIndex
    val plan = t.snapshot(spark).queryExecution.executedPlan.toString
    assert(plan.contains("ManifestFileIndex"),
      s"snapshot must plan from the manifest:\n${plan.take(1500)}")
    assert(!plan.contains("InMemoryFileIndex"),
      "no listing-based index may appear in a snapshot scan")

    // and the data read through it is correct (resolution unaffected)
    val got = t.snapshot(spark).select("k", "v").as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 1L, "b" -> 3L, "c" -> 4L))

    // filter pushdown still reaches the parquet scan through the custom index
    val pushed = t.snapshot(spark).filter(col("k") === "a")
      .queryExecution.executedPlan.toString
    assert(pushed.contains("PushedFilters: [") && pushed.contains("IsNotNull(k)"),
      s"pushdown must survive the manifest-planned scan:\n${pushed.take(1500)}")
  }

  test("changesSince returns exactly the row versions committed in the range") {
    val t = new LakeTable(tmpDir("changes") + "/t", numBuckets = 2,
      keyColumns = Seq("k"), compactThreshold = 2)
    t.mergeDelta(Seq(("a", 0L), ("b", 0L)).toDF("k", "v"), epoch = 0L)
    t.mergeDelta(Seq(("a", 1L)).toDF("k", "v"), epoch = 1L)
    t.mergeDelta(Seq(("b", 2L), ("c", 2L)).toDF("k", "v"), epoch = 2L)
    t.mergeDelta(Seq(("a", 3L)).toDF("k", "v"), epoch = 3L) // forces compaction too

    val changes = t.changesSince(spark, sinceEpoch = 0L)
      .select("k", "v", "_commit_epoch").as[(String, Long, Long)].collect().toSet
    assert(changes == Set(("a", 1L, 1L), ("b", 2L, 2L), ("c", 2L, 2L), ("a", 3L, 3L)),
      s"got $changes")
    // bounded range
    val upTo2 = t.changesSince(spark, sinceEpoch = 1L, asOf = 2L)
      .select("k", "v").as[(String, Long)].collect().toSet
    assert(upTo2 == Set(("b", 2L), ("c", 2L)))
    // a compaction rewrite must NOT re-report carried (unchanged) rows
    t.mergeDelta(Seq(("d", 4L)).toDF("k", "v"), epoch = 4L, compactInline = false)
    t.compact(spark, epoch = 5L)
    assert(t.manifestAt(5L).exists(_.kind == "compact"), "compaction must rewrite")
    val afterCompact = t.changesSince(spark, sinceEpoch = 3L)
      .select("k", "v").as[(String, Long)].collect().toSet
    assert(afterCompact == Set(("d", 4L)), s"carried rows re-reported: $afterCompact")

    // fresh-key commits stream too (compaction keeps per-row stamps)
    val app = new LakeTable(tmpDir("changes-app") + "/t", numBuckets = 2,
      keyColumns = Seq("k"), compactThreshold = 2)
    (0L until 6L).foreach(e => app.mergeDelta(Seq((s"k$e", e)).toDF("k", "v"), e))
    val appChanges = app.changesSince(spark, sinceEpoch = 3L)
      .select("k").as[String].collect().toSet
    assert(appChanges == Set("k4", "k5"), s"got $appChanges")
  }

  test("point lookup reads one bucket only and returns the resolved row") {
    val t = new LakeTable(tmpDir("lookup") + "/t", numBuckets = 8,
      keyColumns = Seq("k"))
    val keys = (0 until 40).map(i => s"k$i")
    t.mergeDelta(keys.map(k => (k, 1L)).toDF("k", "v"), epoch = 0L)
    t.mergeDelta(Seq(("k3", 2L)).toDF("k", "v"), epoch = 1L) // newer version

    val hit = t.lookup(spark, Map("k" -> "k3"))
    assert(hit.select("k", "v").as[(String, Long)].collect().toSeq == Seq(("k3", 2L)))
    // the read touches a strict subset of the table's files (bucket pruning)
    val allFiles = t.snapshot(spark).inputFiles.length
    val hitFiles = hit.inputFiles.length
    assert(hitFiles < allFiles, s"lookup read $hitFiles of $allFiles files")
    // a missing key resolves to empty, not an error
    assert(t.lookup(spark, Map("k" -> "nope")).isEmpty)
  }

  test("rebucket preserves per-row commit stamps (change stream survives)") {
    val t = new LakeTable(tmpDir("rebucket-changes") + "/t", numBuckets = 2,
      keyColumns = Seq("k"))
    (0L until 4L).foreach(e => t.mergeDelta(Seq((s"k$e", e)).toDF("k", "v"), e))
    t.rebucket(spark, newNumBuckets = 8, epoch = 4L)
    assert(t.currentNumBuckets == 8)
    val changes = t.changesSince(spark, sinceEpoch = 1L)
      .select("k", "_commit_epoch").as[(String, Long)].collect().toSet
    assert(changes == Set(("k2", 2L), ("k3", 3L)),
      s"stamps must survive the rebucket rewrite: $changes")
  }

  test("append-only compaction bounds file counts and preserves every row") {
    val t = new LakeTable(tmpDir("append-compact") + "/t", numBuckets = 2,
      keyColumns = Seq("k"), compactThreshold = 3)
    (0L until 10L).foreach { e =>
      t.mergeDelta(Seq((s"k$e", e)).toDF("k", "v"), epoch = e)
    }
    val m = t.latestManifest().get
    val perBucket = m.files.groupBy(_.bucket).map(_._2.size)
    // jittered threshold: hard bound 2t
    assert(perBucket.forall(_ <= 2 * 3),
      s"append-only buckets must compact: ${m.files}")
    val rows = t.snapshot(spark).as[(String, Long)].collect().toSet
    assert(rows == (0L until 10L).map(e => (s"k$e", e)).toSet)
    assert(m.lineage("totalRows") == 10L)
  }

  test("per-file key bounds prune lookups WITHIN a bucket") {
    // one bucket: bucket pruning can't help, only the min/max bounds can.
    // each epoch writes a disjoint key range → disjoint per-file bounds
    val t = new LakeTable(tmpDir("bounds") + "/t", numBuckets = 1,
      keyColumns = Seq("k"), compactThreshold = 99)
    t.mergeDelta((0 until 10).map(i => (f"a$i%02d", 0L)).toDF("k", "v"), epoch = 0L)
    t.mergeDelta((0 until 10).map(i => (f"b$i%02d", 1L)).toDF("k", "v"), epoch = 1L)
    t.mergeDelta((0 until 10).map(i => (f"c$i%02d", 2L)).toDF("k", "v"), epoch = 2L)
    val m = t.latestManifest().get
    assert(m.files.forall(f => f.min0.isDefined && f.max0.isDefined), s"${m.files}")

    val hit = t.lookup(spark, Map("k" -> "b05"))
    assert(hit.select("k", "v").as[(String, Long)].collect().toSeq == Seq(("b05", 1L)))
    // bounds must prune to exactly the one file set whose range holds "b05"
    val allFiles = t.snapshot(spark).inputFiles.length
    val hitFiles = hit.inputFiles
    assert(hitFiles.length < allFiles && hitFiles.forall(_.contains("e000000000001")),
      s"bounds pruning must isolate epoch 1's file: ${hitFiles.mkString(", ")}")

    // a superseding version in a NARROW-bounds file must still win: every
    // file that can hold the probed key survives pruning, so resolution
    // sees both versions (the key0 contract's safe direction)
    t.mergeDelta(Seq(("b05", 9L)).toDF("k", "v"), epoch = 3L)
    val updated = t.lookup(spark, Map("k" -> "b05"))
    assert(updated.select("v").as[Long].collect().toSeq == Seq(9L),
      "lookup must resolve to the superseding version across pruned reads")
  }

  test("lookup time travel across a rebucket resolves against the as-of layout") {
    val t = new LakeTable(tmpDir("lookup-rebucket") + "/t", numBuckets = 2,
      keyColumns = Seq("k"))
    val keys = (0 until 20).map(i => s"k$i")
    t.mergeDelta(keys.map(k => (k, 1L)).toDF("k", "v"), epoch = 0L)
    t.rebucket(spark, newNumBuckets = 16, epoch = 1L)
    t.mergeDelta(Seq(("k3", 2L)).toDF("k", "v"), epoch = 2L)
    // HEAD lookup uses the post-rebucket bucket count
    assert(t.lookup(spark, Map("k" -> "k3"))
      .select("v").as[Long].collect().toSeq == Seq(2L))
    // as-of BEFORE the rebucket must hash with the OLD bucket count (a HEAD
    // count of 16 would usually probe the wrong bucket and return empty)
    keys.foreach { k =>
      val got = t.lookup(spark, Map("k" -> k), asOf = 0L)
        .select("v").as[Long].collect().toSeq
      assert(got == Seq(1L), s"asOf=0 lookup of $k returned $got")
    }
  }

  test("lookup casts the probe literal to the column type before hashing") {
    val t = new LakeTable(tmpDir("lookup-typed") + "/t", numBuckets = 8,
      keyColumns = Seq("k"))
    t.mergeDelta((0L until 20L).map(i => (i, i * 10)).toDF("k", "v"), epoch = 0L)
    // an Int probe at a LongType column must hash like the writers did
    (0 until 20).foreach { i =>
      val got = t.lookup(spark, Map("k" -> i)).select("v").as[Long].collect().toSeq
      assert(got == Seq(i * 10L), s"Int probe $i returned $got")
    }
  }

  test("changeRetention defers compaction so lagging change consumers keep versions") {
    val t = new LakeTable(tmpDir("retention") + "/t", numBuckets = 1,
      keyColumns = Seq("k"), compactThreshold = 2,
      changeRetention = 10)
    (0L until 8L).foreach(e => t.mergeDelta(Seq(("a", e)).toDF("k", "v"), epoch = e))
    // every intermediate version of "a" is still readable — compaction was
    // deferred because all files are within the retention horizon
    val versions = t.changesSince(spark, sinceEpoch = -1L)
      .select("v").as[Long].collect().sorted.toSeq
    assert(versions == (0L until 8L).toSeq, s"got $versions")
    // the same schedule WITHOUT retention truncates to surviving versions
    val t2 = new LakeTable(tmpDir("retention-off") + "/t", numBuckets = 1,
      keyColumns = Seq("k"), compactThreshold = 2)
    (0L until 8L).foreach(e => t2.mergeDelta(Seq(("a", e)).toDF("k", "v"), epoch = e))
    val v2 = t2.changesSince(spark, sinceEpoch = -1L).select("v").as[Long].collect()
    assert(v2.length < 8 && v2.contains(7L), s"got ${v2.toSeq}")
  }

  test("out-of-band compact() bounds files as its own commit; ingest skips inline") {
    val t = new LakeTable(tmpDir("async-compact") + "/t", numBuckets = 2,
      keyColumns = Seq("k"), compactThreshold = 2)
    (0L until 8L).foreach(e =>
      t.mergeDelta(Seq(("a", e), (s"k$e", e)).toDF("k", "v"), epoch = e,
        compactInline = false))
    val before = t.latestManifest().get.files.groupBy(_.bucket).map(_._2.size).max
    assert(before > 4, s"inline compaction must be off (max files/bucket $before)")
    val want = t.snapshot(spark).as[(String, Long)].collect().toSet

    val m = t.compact(spark, epoch = 100L)
    assert(m.epoch == 100L && m.lineage.get("compaction").contains(1L))
    val after = t.latestManifest().get.files.groupBy(_.bucket).map(_._2.size).max
    assert(after <= 4, s"compact() must bound files/bucket: $after")
    assert(t.snapshot(spark).as[(String, Long)].collect().toSet == want)
    // idempotent: re-running the same maintenance epoch is a no-op
    assert(t.compact(spark, epoch = 100L).epoch == 100L)
    // nothing over threshold now → no new commit
    assert(t.compact(spark, epoch = 101L).epoch == 100L)
  }

  test("publishing a commit built against a stale parent throws, never resurrects files") {
    val t = new LakeTable(tmpDir("occ") + "/t", numBuckets = 2, keyColumns = Seq("k"))
    t.mergeDelta(Seq(("a", 1L)).toDF("k", "v"), epoch = 0L)
    t.mergeDelta(Seq(("b", 2L)).toDF("k", "v"), epoch = 1L)
    // a racing writer's commit built BEFORE epoch 1 landed: its file list
    // misses epoch 1's files — publishing it would silently drop them
    val stale = t.latestManifest().get.copy(epoch = 5L, parentEpoch = 0L)
    val ex = intercept[java.util.ConcurrentModificationException] {
      t.writeManifestAtomically(stale)
    }
    assert(ex.getMessage.contains("single writer"))
    assert(t.latestManifest().get.epoch == 1L, "stale commit must not publish")
    // the chain keeps working afterwards
    t.mergeDelta(Seq(("c", 3L)).toDF("k", "v"), epoch = 2L)
    assert(t.snapshot(spark).count() == 3L)
  }

  test("lineage table exposes per-partition write metrics per commit") {
    val t = new LakeTable(tmpDir("lineage-table") + "/t", numBuckets = 2,
      keyColumns = Seq("k"))
    t.mergeDelta(Seq(("a", 1L), ("b", 1L)).toDF("k", "v"), epoch = 0L,
      metadata = Map("build-tag" -> "x"), lineage = Map("batchRows" -> 2L))
    t.mergeDelta(Seq(("a", 2L)).toDF("k", "v"), epoch = 1L,
      lineage = Map("batchRows" -> 1L))
    val lt = t.lineageTable(spark)
    val byEpoch = lt.groupBy("epoch").sum("rows").as[(Long, Long)].collect().toMap
    assert(byEpoch == Map(0L -> 2L, 1L -> 1L), s"got $byEpoch")
    assert(lt.filter($"epoch" === 0L).select("metadata")
      .as[Map[String, String]].head() == Map("build-tag" -> "x"))
    assert(lt.filter($"epoch" === 1L).select("lineage")
      .as[Map[String, Long]].head().get("batchRows").contains(1L))
  }

  test("schema evolution through delta commits: old rows null-fill, resolution holds") {
    val t = new LakeTable(tmpDir("mor-evo") + "/t", numBuckets = 2,
      keyColumns = Seq("k"))
    t.mergeDelta(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), epoch = 0L)
    // epoch 1 widens the schema AND re-upserts one key
    t.mergeDelta(Seq(("b", 3L, "x"), ("c", 4L, "y")).toDF("k", "v", "extra"), epoch = 1L)
    val m = t.latestManifest().get
    assert(m.schemaId == 2)
    val snap = t.snapshot(spark).orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1), Option(r.getString(2))))
    assert(snap.toSeq == Seq(("a", 1L, None), ("b", 3L, Some("x")), ("c", 4L, Some("y"))))
    // the internal bucket and commit-stamp columns never surface
    val cols = t.snapshot(spark).columns.toSeq
    assert(!cols.contains("__bucket") && !cols.contains("__epoch"), cols)
  }

  test("derived compaction bounds use UTF8 byte order — supplementary keys stay findable") {
    // "😀" (U+1F600, 4-byte UTF-8) sorts ABOVE "" in the
    // UTF8String byte order that wrote the per-file bounds, but BELOW it in
    // Scala's UTF-16 String order. Deriving compacted bounds under the
    // wrong order makes max0 under-cover the range and bounds pruning then
    // silently drops the key's file from point lookups.
    val emoji = "😀"
    val t = new LakeTable(tmpDir("utf8-bounds") + "/t", numBuckets = 1,
      keyColumns = Seq("k"), compactThreshold = 2)
    t.mergeDelta(Seq(("", 1L)).toDF("k", "v"), epoch = 0L)
    t.mergeDelta(Seq((emoji, 2L)).toDF("k", "v"), epoch = 1L)
    t.mergeDelta(Seq(("a", 3L)).toDF("k", "v"), epoch = 2L)
    // 3 live files > effectiveThreshold(0)=2 — this commit compacts them
    // into one derived-bounds entry
    t.mergeDelta(Seq(("b", 4L)).toDF("k", "v"), epoch = 3L)
    assert(t.latestManifest().get.files.exists(_.path.contains("c/")),
      "fixture must exercise the derived-bounds compaction path")
    val hit = t.lookup(spark, Map("k" -> emoji)).select("v").as[Long].collect()
    assert(hit.toSeq == Seq(2L), s"supplementary key lost to bounds pruning: ${hit.toSeq}")
  }

  test("type evolution: upcast-compatible upserts are cast, anything else throws at commit") {
    val t = new LakeTable(tmpDir("type-evo") + "/t", numBuckets = 2,
      keyColumns = Seq("k"))
    t.mergeDelta(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), epoch = 0L) // v: long

    // an int upsert upcasts into the long column — stored type unchanged
    t.mergeDelta(Seq(("b", 30), ("c", 40)).toDF("k", "v"), epoch = 1L)
    assert(t.latestManifest().get.schemaId == 1, "upcast must not bump the schema")
    val snap = t.snapshot(spark).orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(snap.toSeq == Seq(("a", 1L), ("b", 30L), ("c", 40L)))

    // a string upsert into the long column used to write parquet whose
    // physical type contradicted the manifest schema (corruption surfacing
    // only at a later read) — it must throw AT THE COMMIT
    val bad = intercept[IllegalArgumentException] {
      t.mergeDelta(Seq(("d", "oops")).toDF("k", "v"), epoch = 2L)
    }
    assert(bad.getMessage.contains("cannot"), bad.getMessage)
    assert(t.latestManifest().get.epoch == 1L, "failed commit must not land")
  }
}
