package graft.cdc

import graft.{JobProbe, SparkSpec}
import graft.lake.LakeTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end engine properties: incremental == full recompute, replay from
  * any checkpoint is byte-identical (row_sha256 equality), redelivery is
  * idempotent, epoch re-apply is a no-op (exactly-once), schema evolution,
  * crash atomicity.
  */
class CdcEngineSpec extends SparkSpec {
  import spark.implicits._

  private val day = 24L * 3600 * 1000000L
  private val cfg = GenConfig(numConversations = 200, hotConversations = 2,
    hotFragments = 64, redeliveryPermille = 50, epochs = 4)
  private lazy val log = ChangeLogGen.generate(spark, cfg).cache()

  private def shaMap(df: DataFrame): Map[String, String] =
    df.select("repo", "row_sha256").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

  private def buildIncremental(dir: String, epochs: Seq[Long]): CdcEngine = {
    val eng = new CdcEngine(dir, numBuckets = 8, cutoffMicros = 14 * day)
    epochs.foreach(e => eng.applyEpoch(spark, log.filter(_.epoch == e), e))
    eng
  }

  test("incremental epoch-by-epoch apply equals one-shot full classification") {
    val eng = buildIncremental(tmpDir("inc"), Seq(0L, 1L, 2L, 3L))
    val incremental = shaMap(eng.currentTransfers(spark))

    val full = shaMap(CdcPipeline.withRowSha(
      CdcPipeline.classify(log, 14 * day).toDF()))

    assert(incremental.size == full.size)
    assert(incremental == full)
    // sanity: outcome mix covers all four statuses
    val statuses = eng.currentTransfers(spark)
      .select("status").distinct().as[String].collect().toSet
    assert(statuses.size == 4, s"statuses seen: $statuses")
  }

  test("replay from epoch 0 reproduces identical table state (sha-for-sha)") {
    val a = buildIncremental(tmpDir("replayA"), Seq(0L, 1L, 2L, 3L))
    val b = buildIncremental(tmpDir("replayB"), Seq(0L, 1L, 2L, 3L))
    assert(shaMap(a.currentTransfers(spark)) == shaMap(b.currentTransfers(spark)))
  }

  test("re-applying a committed epoch is a no-op (exactly-once)") {
    val dir = tmpDir("once")
    val eng = buildIncremental(dir, Seq(0L, 1L))
    val before = shaMap(eng.currentTransfers(spark))
    val manifestBefore = eng.transfers.latestManifest().get
    // redo epoch 1 (e.g. restarted job replaying from checkpoint)
    eng.applyEpoch(spark, log.filter(_.epoch == 1L), 1L)
    assert(eng.transfers.latestManifest().get == manifestBefore)
    assert(shaMap(eng.currentTransfers(spark)) == before)
  }

  test("redelivery is idempotent: duplicated batch yields identical state") {
    val clean = buildIncremental(tmpDir("cleanlog"), Seq(0L, 1L, 2L, 3L))
    // duplicate EVERY event (worst-case redelivery) at shifted offsets
    val noisy = log.union(log.map(e => e.copy(offset = e.offset + 1000000000L)))
    val dirNoisy = tmpDir("noisylog")
    val engNoisy = new CdcEngine(dirNoisy, numBuckets = 8, cutoffMicros = 14 * day)
    (0L to 3L).foreach(e => engNoisy.applyEpoch(spark, noisy.filter(_.epoch == e), e))
    assert(shaMap(clean.currentTransfers(spark)) == shaMap(engNoisy.currentTransfers(spark)))
  }

  test("late events past cutoff are excluded from classification") {
    // conversation with ack 20 days after start, cutoff 14d → not integrated
    val events = ChangeLogGen.generate(spark, cfg).filter(_.repo == "repo-0000000000")
    assert(events.count() > 0)
    val strict = CdcPipeline.classify(events, 14 * day).collect().head
    val lax = CdcPipeline.classify(events, 0L).collect().head // cutoff 0 = keep all
    assert(lax.eventCount >= strict.eventCount)
  }

  test("time travel: snapshotAt an earlier epoch sees the earlier state") {
    val eng = buildIncremental(tmpDir("tt"), Seq(0L, 1L, 2L, 3L))
    val at0 = LakeTable.readSnapshot(eng.transfers, spark, asOf = 0L).count()
    val at3 = eng.currentTransfers(spark).count()
    assert(at0 > 0 && at0 < at3)
  }

  test("schema evolution: new nullable column in a later epoch, old rows read as null") {
    val dir = tmpDir("evo")
    val t = new LakeTable(s"$dir/t", numBuckets = 4, keyColumns = Seq("k"),
      mergeOnRead = true)
    t.mergeDelta(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), epoch = 0L)
    // epoch 1 adds a column
    t.mergeDelta(Seq(("b", 3L, "new"), ("c", 4L, "col")).toDF("k", "v", "extra"),
      epoch = 1L)
    val m = t.latestManifest().get
    assert(m.schemaId == 2)
    val snap = LakeTable.readSnapshot(t, spark).orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1), Option(r.getString(2))))
    assert(snap.toSeq == Seq(("a", 1L, None), ("b", 3L, Some("new")), ("c", 4L, Some("col"))))
  }

  test("crash between data write and manifest commit leaves state invisible") {
    val dir = tmpDir("crash")
    val t = new LakeTable(s"$dir/t", numBuckets = 4, keyColumns = Seq("k"),
      mergeOnRead = true)
    t.mergeDelta(Seq(("a", 1L)).toDF("k", "v"), epoch = 0L)
    // simulate a crashed epoch-1 write: orphan data dir, no manifest
    val orphan = new java.io.File(s"$dir/t/data/e000000000001/__bucket=0")
    orphan.mkdirs()
    Seq(("zzz", 99L)).toDF("k", "v").write.mode("overwrite").parquet(orphan.toString)
    val snap = LakeTable.readSnapshot(t, spark).as[(String, Long)].collect().toSet
    assert(snap == Set(("a", 1L))) // orphan invisible
    // recovery: re-running epoch 1 commits atomically over the orphan dir
    t.mergeDelta(Seq(("b", 2L)).toDF("k", "v"), epoch = 1L)
    val snap2 = LakeTable.readSnapshot(t, spark).as[(String, Long)].collect().toSet
    assert(snap2 == Set(("a", 1L), ("b", 2L)))
  }

  test("schema evolution mid-chain: wide commit, chain continues, old rows null-filled") {
    val dir = tmpDir("evo-chain")
    val eng = buildIncremental(dir, Seq(0L, 1L))
    // engine v2 adds a nullable column to the transfers schema mid-stream
    val wide = CdcPipeline.withRowSha(
        CdcPipeline.classify(log.filter(_.epoch == 2L), 14 * day).toDF())
      .withColumn("pipeline_version", lit("v2"))
    eng.transfers.mergeDelta(wide, epoch = 2L)
    // the engine (old schema) keeps applying after the widening commit
    eng.applyEpoch(spark, log.filter(_.epoch == 3L), 3L)

    val snap = eng.currentTransfers(spark)
    assert(snap.columns.contains("pipeline_version"))
    val m = eng.transfers.latestManifest().get
    assert(m.epoch == 3L && m.schemaId == 2)
    // rows written by the wide commit that epoch 3 didn't replace keep v2;
    // rows from narrow commits read as null through the merged schema
    val versions = snap.select("pipeline_version").distinct()
      .collect().map(r => Option(r.getString(0))).toSet
    assert(versions.contains(None))
    // row count equals full classification (no rows lost across evolution)
    assert(snap.count() == CdcPipeline.classify(log, 14 * day).count())
  }

  test("transfers merge-on-read: an epoch writes O(batch), not O(bucket)") {
    val dir = tmpDir("mor")
    val eng = new CdcEngine(dir, numBuckets = 4, cutoffMicros = 14 * day)
    eng.applyEpoch(spark, log.filter(_.epoch == 0L), 0L)
    val m0 = eng.transfers.latestManifest().get
    val rows0 = m0.files.map(_.rows).sum

    // epoch 1 touches exactly ONE session
    val one = log.filter(_.epoch == 1L).collect().head
    eng.applyEpoch(spark, Seq(one).toDS(), 1L)
    val m1 = eng.transfers.latestManifest().get
    val added = m1.files.filter(_.epochAdded == 1L)
    assert(added.map(_.rows).sum == 1L,
      s"single-session epoch must write exactly one transfer row, got $added")
    // every epoch-0 file is carried untouched (no bucket rewrite)
    assert(m0.files.forall(m1.files.contains),
      "untouched files must be carried, not rewritten")
    assert(m1.files.map(_.rows).sum == rows0 + 1)

    // resolution: the re-upserted session appears once, with the new version
    val snap = eng.currentTransfers(spark)
    assert(snap.filter(col("repo") === one.repo).count() == 1)
    assert(snap.count() == CdcPipeline.classify(log.filter(_.epoch == 0L)
      .union(Seq(one).toDS()), 14 * day).count())
  }

  test("merge-on-read compaction bounds live files per bucket") {
    val dir = tmpDir("compact")
    val t = new LakeTable(s"$dir/t", numBuckets = 2, keyColumns = Seq("k"),
      mergeOnRead = true, compactThreshold = 3)
    // hammer one key: every epoch adds a delta file to the same bucket
    (0L to 9L).foreach { e =>
      t.mergeDelta(Seq(("hot", e)).toDF("k", "v"), epoch = e)
    }
    val m = t.latestManifest().get
    val perBucket = m.files.groupBy(_.bucket).map(_._2.size)
    // effective per-bucket threshold is jittered into [t, 2t) to spread
    // compaction epochs — the hard bound is 2t
    assert(perBucket.forall(_ <= 2 * 3),
      s"live files per bucket must stay bounded by 2x threshold: ${m.files}")
    // resolution yields the last writer despite all the deltas/compactions
    val rows = LakeTable.readSnapshot(t, spark).as[(String, Long)].collect().toSeq
    assert(rows == Seq(("hot", 9L)))
  }

  test("crash between the state commit and the transfers commit recovers exactly-once") {
    // simulate: epoch 1 commits the state table, then the process dies
    // before the transfers commit. Recovery = re-running applyEpoch(1):
    // the state commit is skipped (manifest exists), transfers recompute
    // deterministically from the identical durable state.
    val dir = tmpDir("two-phase-crash")
    val eng = new CdcEngine(dir, numBuckets = 8, cutoffMicros = 14 * day)
    eng.applyEpoch(spark, log.filter(_.epoch == 0L), 0L)

    // manual "half-applied" epoch 1: commit ONLY the state table the same
    // way applyEpoch would (re-stamped fresh events), then "crash"
    val spark2 = spark
    import org.apache.spark.sql.functions.{col => c, lit => l, sha2 => sh}
    val stamped = log.filter(_.epoch == 1L).withColumn("epoch", l(1L)).as[ChangeEvent]
    val touched = stamped.toDF().agg(
      org.apache.spark.sql.functions.collect_set(eng.state.bucketCol))
      .collect()(0).getSeq[Int](0).toSet
    val prior = eng.state.snapshot(spark2, buckets = Some(touched))
    val eventCols = spark2.emptyDataset[ChangeEvent].columns
    val priorEv = prior.select(eventCols.map(c): _*).as[ChangeEvent]
    val cutoffLocal = 14 * day // local copy: the lambda must not capture the spec
    val fresh = CdcPipeline.toApplyEvents(priorEv.union(stamped))
      .groupByKey(_.repo)
      .flatMapGroups((r, it) => CdcPipeline.applyGroup(r, it, cutoffLocal, 1L))
      .filter(_.event.isDefined).map(_.event.get).toDF()
      .withColumn("content_sha256", sh(c("content"), 256))
    eng.state.appendNew(fresh, 1L, assumeNew = true)
    assert(eng.state.latestManifest().get.epoch == 1L)
    assert(eng.transfers.latestManifest().get.epoch == 0L, "transfers must lag (crashed)")

    // recovery: the normal apply path finishes the epoch
    eng.applyEpoch(spark2, log.filter(_.epoch == 1L), 1L)
    assert(eng.transfers.latestManifest().get.epoch == 1L)
    val got = shaMap(eng.currentTransfers(spark2))
    val want = shaMap(CdcPipeline.withRowSha(CdcPipeline.classify(
      log.filter(_.epoch <= 1L), 14 * day).toDF()))
    assert(got == want, "recovered state must equal the clean two-epoch run")
  }

  test("reverse crash (transfers committed, state lagging) also recovers exactly-once") {
    // the two commits run concurrently, so the crash can land either way
    // around — here transfers commits epoch 1 and state doesn't
    val dir = tmpDir("two-phase-crash-rev")
    val eng = new CdcEngine(dir, numBuckets = 8, cutoffMicros = 14 * day)
    eng.applyEpoch(spark, log.filter(_.epoch == 0L), 0L)

    import org.apache.spark.sql.functions.{col => c, lit => l}
    val stamped = log.filter(_.epoch == 1L).withColumn("epoch", l(1L)).as[ChangeEvent]
    val touched = stamped.toDF().agg(
      org.apache.spark.sql.functions.collect_set(eng.state.bucketCol))
      .collect()(0).getSeq[Int](0).toSet
    val prior = eng.state.snapshot(spark, buckets = Some(touched))
    val eventCols = spark.emptyDataset[ChangeEvent].columns
    val priorEv = prior.select(eventCols.map(c): _*).as[ChangeEvent]
    val cutoffLocal = 14 * day
    val upserts = CdcPipeline.withRowSha(CdcPipeline.toApplyEvents(priorEv.union(stamped))
      .groupByKey(_.repo)
      .flatMapGroups((r, it) => CdcPipeline.applyGroup(r, it, cutoffLocal, 1L))
      .filter(_.transfer.isDefined).map(_.transfer.get).toDF())
    eng.transfers.mergeDelta(upserts, 1L)
    assert(eng.transfers.latestManifest().get.epoch == 1L)
    assert(eng.state.latestManifest().get.epoch == 0L, "state must lag (crashed)")

    // recovery: the normal apply path finishes the epoch (transfers commit
    // is skipped as already-present; state recomputes identically)
    eng.applyEpoch(spark, log.filter(_.epoch == 1L), 1L)
    assert(eng.state.latestManifest().get.epoch == 1L)
    val got = shaMap(eng.currentTransfers(spark))
    val want = shaMap(CdcPipeline.withRowSha(CdcPipeline.classify(
      log.filter(_.epoch <= 1L), 14 * day).toDF()))
    assert(got == want, "recovered state must equal the clean two-epoch run")
    // and the NEXT epoch applies cleanly on the healed state
    eng.applyEpoch(spark, log.filter(_.epoch == 2L), 2L)
    val got2 = shaMap(eng.currentTransfers(spark))
    val want2 = shaMap(CdcPipeline.withRowSha(CdcPipeline.classify(
      log.filter(_.epoch <= 2L), 14 * day).toDF()))
    assert(got2 == want2)
  }

  test("rebucket mid-chain: applies continue correctly on the grown layout") {
    val eng = new CdcEngine(tmpDir("rebucket"), numBuckets = 4, cutoffMicros = 14 * day)
    eng.applyEpoch(spark, log.filter(_.epoch == 0L), 0L)
    eng.applyEpoch(spark, log.filter(_.epoch == 1L), 1L)
    eng.rebucket(spark, newNumBuckets = 16, epoch = 2L)
    assert(eng.transfers.currentNumBuckets == 16)
    assert(eng.state.currentNumBuckets == 16)
    // the chain continues against the new bucketing
    eng.applyEpoch(spark, log.filter(_.epoch == 2L), 3L)
    eng.applyEpoch(spark, log.filter(_.epoch == 3L), 4L)
    val got = shaMap(eng.currentTransfers(spark))
    val full = shaMap(CdcPipeline.withRowSha(
      CdcPipeline.classify(log, 14 * day).toDF()))
    assert(got == full, "rebucketing must not change the resolved table")
    // new commits landed in buckets of the grown range
    val lastFiles = eng.transfers.latestManifest().get.files
    assert(lastFiles.exists(_.bucket >= 4), s"new layout unused: $lastFiles")
  }

  test("a transfers table rebucketed alone commits through the unaligned path") {
    val dim = Enrichment.generateDim(spark, numAsids = 997,
      yearMonths = Seq(201911, 201912))
    val eng = new CdcEngine(tmpDir("rebucket-transfers"), numBuckets = 4,
      cutoffMicros = 14 * day, dim = Some(dim))
    eng.applyEpoch(spark, log.filter(_.epoch == 0L), 0L)
    // out of band: only transfers grows, so the fold (partitioned by the
    // state table's 4 buckets) no longer matches its layout
    eng.transfers.rebucket(spark, newNumBuckets = 16, epoch = 1L)
    val probe = JobProbe(spark)(eng.applyEpoch(spark, log.filter(_.epoch == 1L), 2L))

    Seq(eng.state, eng.transfers, eng.enriched.get).foreach { t =>
      assert(t.latestManifest().get.epoch == 2L, s"${t.root} did not commit epoch 2")
    }
    assert(eng.committedThrough().contains(2L))
    assert(probe.shuffleBytes("cdc epoch 2: transfers commit (mergeDelta)") > 0L,
      "the mismatched table must repartition to its own layout")
    assert(probe.shuffleBytes("cdc epoch 2: enriched commit (mergeDelta)") == 0L)
    assert(eng.transfers.latestManifest().get.files.filter(_.epochAdded == 2L)
      .exists(_.bucket >= 4), "the epoch's transfers must land in the 16-bucket layout")

    val classified = CdcPipeline.withRowSha(
      CdcPipeline.classify(log.filter(_.epoch <= 1L), 14 * day).toDF())
    assert(shaMap(eng.currentTransfers(spark)) == shaMap(classified))
    // enriched: the sha-covered columns plus every enrichment column
    val counters = Set("duplicatesDropped", "danglingAcks", "unknownPurpose", "negativeSla")
    def rowMap(df: DataFrame): Map[String, String] =
      df.select(col("repo"), to_json(struct(df.columns.filterNot(counters).sorted.map(col): _*)))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val want = rowMap(Enrichment.enrich(classified, dim))
    assert(want.nonEmpty && rowMap(eng.currentEnriched(spark)) == want)
  }

  test("slimmed prior-event projection never leaks nulls into durable state") {
    // prior-state events cross the fold with null path/lang/op (they are
    // never re-persisted); if one ever won freshness it would null a
    // durable column — assert every committed state row stays fully typed
    val eng = buildIncremental(tmpDir("slim-state"), Seq(0L, 1L, 2L, 3L))
    val stateRows = LakeTable.readSnapshot(eng.state, spark)
    assert(stateRows.filter(
      col("path").isNull || col("lang").isNull || col("op").isNull).count() == 0)
  }

  test("incremental enrichment: the enriched table equals batch-enriching the full classify") {
    val dim = Enrichment.generateDim(spark, numAsids = 997,
      yearMonths = Seq(201911, 201912))
    val eng = new CdcEngine(tmpDir("enriched"), numBuckets = 8,
      cutoffMicros = 14 * day, dim = Some(dim))
    (0L to 3L).foreach(e => eng.applyEpoch(spark, log.filter(_.epoch == e), e))
    assert(eng.committedThrough().contains(3L), "all three chains must advance")

    // compare the sha-covered semantic columns + every enrichment column;
    // the observability counters (duplicatesDropped etc.) are batching-
    // dependent by design and excluded from row_sha256 for the same reason
    val counters = Set("duplicatesDropped", "danglingAcks", "unknownPurpose",
      "negativeSla")
    def rowMap(df: DataFrame): Map[String, String] = {
      val cols = df.columns.filterNot(counters).sorted.map(col)
      df.select(col("repo"), to_json(struct(cols: _*)).as("j"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    }
    val got = rowMap(eng.currentEnriched(spark))
    val want = rowMap(Enrichment.enrich(
      CdcPipeline.withRowSha(CdcPipeline.classify(log, 14 * day).toDF()), dim))
    assert(got.size == want.size)
    assert(got == want,
      "incrementally-maintained enrichment must equal the one-shot batch result")

    // replay of a committed epoch is still a no-op with three chains
    val before = eng.enriched.get.latestManifest().get
    eng.applyEpoch(spark, log.filter(_.epoch == 3L), 3L)
    assert(eng.enriched.get.latestManifest().get == before)
  }

  test("single-shuffle epoch: the commits write no shuffle bytes, the fold does") {
    val eng = new CdcEngine(tmpDir("one-shuffle"), numBuckets = 8,
      cutoffMicros = 14 * day,
      dim = Some(Enrichment.generateDim(spark, numAsids = 997,
        yearMonths = Seq(201911, 201912))))
    eng.applyEpoch(spark, log.filter(_.epoch == 0L), 0L)

    // epoch 1 folds prior state; two files per bucket stay far below the
    // compaction threshold, so no commit rewrites anything inline
    val probe = JobProbe(spark)(eng.applyEpoch(spark, log.filter(_.epoch == 1L), 1L))

    def written(phase: String): Long = {
      val d = s"cdc epoch 1: $phase"
      assert(probe.descriptions.contains(d), s"no job tagged '$d': ${probe.descriptions}")
      probe.shuffleBytes(d)
    }
    assert(written("fold + epoch summary") > 0L)
    Seq("state commit (appendNew)", "transfers commit (mergeDelta)",
      "enriched commit (mergeDelta)").foreach { phase =>
      assert(written(phase) == 0L, s"$phase must consume the fold's partitioning")
    }
  }

  test("ingest/maintenance epoch-id collision fails loudly, not as a silent skip") {
    val eng = new CdcEngine(tmpDir("collide"), numBuckets = 4, cutoffMicros = 14 * day)
    eng.applyEpoch(spark, log.filter(_.epoch == 0L), 0L)
    eng.rebucket(spark, newNumBuckets = 8, epoch = 1L) // maintenance takes id 1
    assert(eng.transfers.manifestAt(1L).get.kind == "rebucket")

    // an ingest batch reusing the maintenance id used to no-op silently
    // (skip-if-present) — the batch would be LOST; now it throws
    intercept[IllegalArgumentException] {
      eng.applyEpoch(spark, log.filter(_.epoch == 1L), 1L)
    }
    // same guard one level down, against each table's skip-if-present
    intercept[IllegalStateException] {
      eng.transfers.mergeDelta(eng.currentTransfers(spark).limit(1), 1L)
    }
    intercept[IllegalStateException] {
      eng.transfers.compact(spark, 1L) // compact replaying a rebucket id
    }
    // the disjoint id continues the chain normally
    eng.applyEpoch(spark, log.filter(_.epoch == 1L), 2L)
    assert(eng.committedThrough().contains(2L))
  }

  test("observability counters land in the transfers manifest lineage") {
    import graft.classifier.{Interactions, SpineMessage}
    val t0 = 1577836800000000L
    def ev(commit: String, msg: SpineMessage, off: Long) =
      ChangeEvent("rX", "p", commit, "scala", MessageParser.format(msg),
        offset = off, op = "insert", tsMicros = msg.timeMicros, epoch = 0L)
    val events = Seq(
      ev("c1", SpineMessage(t0, "rX", "g1", Interactions.EhrRequestStarted,
        "a", "b", None, None, None, None), 1L),
      ev("c2", SpineMessage(t0 + 3000000L, "rX", "g2", Interactions.EhrRequestCompleted,
        "b", "a", None, None, None, None), 2L),
      // dangling ack: references a guid no message carries
      ev("c3", SpineMessage(t0 + 4000000L, "rX", "g3", Interactions.ApplicationAck,
        "a", "b", Some("nope"), None, None, None), 3L),
      // unknown purpose: COPC from an asid that is neither requester nor sender
      ev("c4", SpineMessage(t0 + 5000000L, "rX", "g4", Interactions.CommonPointToPoint,
        "zz", "b", None, None, None, None), 4L),
      // redelivered commit: dropped by dedup, counted
      ev("c1", SpineMessage(t0, "rX", "g1", Interactions.EhrRequestStarted,
        "a", "b", None, None, None, None), 99L),
    )
    val eng = new CdcEngine(tmpDir("counters"), numBuckets = 4, cutoffMicros = 0L)
    eng.applyEpoch(spark, events.toDS(), 0L)
    val lin = eng.transfers.latestManifest().get.lineage
    assert(lin("danglingAcks") == 1L, s"lineage: $lin")
    assert(lin("unknownPurpose") == 1L, s"lineage: $lin")
    assert(lin("duplicatesDropped") == 1L, s"lineage: $lin")
    // negative SLA cannot occur with same-pair effective times (ack sorts
    // after its message); the counter is the reference's defensive probe
    assert(lin("negativeSla") == 0L, s"lineage: $lin")
  }

  test("state table keeps first-seen offset for redelivered commits (insert-ignore)") {
    val dir = tmpDir("firstwins")
    val eng = new CdcEngine(dir, numBuckets = 4, cutoffMicros = 0L)
    val e1 = ChangeEvent("r1", "p", "c1", "scala",
      MessageParser.format(graft.classifier.SpineMessage(
        1577836800000000L, "r1", "c1",
        graft.classifier.Interactions.EhrRequestStarted, "a", "b", None, None, None, None)),
      offset = 5L, op = "insert", tsMicros = 1L, epoch = 0L)
    eng.applyEpoch(spark, Seq(e1).toDS(), 0L)
    eng.applyEpoch(spark, Seq(e1.copy(offset = 900L, epoch = 1L)).toDS(), 1L)
    val st = LakeTable.readSnapshot(eng.state, spark)
    assert(st.count() == 1)
    assert(st.select("offset").as[Long].collect().head == 5L)
  }

  test("changeRetention via the engine keeps lagging change-consumers' versions") {
    // one session gains one event per epoch → one new transfers version per
    // epoch; a changesSince consumer lagging the whole run must still see
    // every intermediate version when the engine declares a retention
    // horizon, and only the surviving winners when it doesn't
    val t0 = 1577836800000000L
    val minute = 60L * 1000000L
    def msg(i: Long, interaction: String) = MessageParser.format(
      graft.classifier.SpineMessage(t0 + i * minute, "r1", s"c$i",
        interaction, "a", "b", None, None, None, None))
    def ev(i: Long): ChangeEvent = ChangeEvent("r1", "p", s"c$i", "scala",
      msg(i, if (i == 0) graft.classifier.Interactions.EhrRequestStarted
             else graft.classifier.Interactions.CommonPointToPoint),
      offset = i, op = "insert", tsMicros = t0 + i * minute, epoch = i)
    def run(dir: String, retention: Int): CdcEngine = {
      val eng = new CdcEngine(dir, numBuckets = 2, cutoffMicros = 0L,
        compactThreshold = 2, changeRetention = retention)
      (0L until 10L).foreach(e => eng.applyEpoch(spark, Seq(ev(e)).toDS(), e))
      eng
    }
    val kept = run(tmpDir("eng-ret"), retention = 16)
    val versions = kept.transfers.changesSince(spark, sinceEpoch = -1L)
      .select("eventCount").as[Long].collect().sorted.toSeq
    assert(versions == (1L to 10L).toSeq,
      s"every intermediate version must survive, got $versions")
    val truncated = run(tmpDir("eng-noret"), retention = 0)
    val v2 = truncated.transfers.changesSince(spark, sinceEpoch = -1L)
      .select("eventCount").as[Long].collect().sorted.toSeq
    assert(v2.length < 10 && v2.contains(10L),
      s"without retention compaction truncates to survivors, got $v2")
    // both engines resolve to the same final snapshot regardless
    assert(shaMap(kept.currentTransfers(spark)) ==
      shaMap(truncated.currentTransfers(spark)))
  }
}
