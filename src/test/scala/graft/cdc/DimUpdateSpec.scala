package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dimension-refresh semantics (`CdcEngine.applyDimUpdate` + the durable
  * dimlog chain): a dim-snapshot delta must (1) commit durably on its OWN
  * manifest chain (version ids disjoint from ingest epoch ids — dense
  * ingest numbering keeps flowing across a committing dim update), (2)
  * govern every subsequent epoch's enrichment, (3) retro-correct the
  * already-committed rows it affects via the NEXT enriched commit (or an
  * explicit flush), (4) survive an engine restart without the caller
  * replaying the dim feed, and (5) heal a strictDimMonths abort so the
  * SAME ingest epoch id retries — including when the refresh re-enriches
  * committed rows (n > 0), the round-4 wedge case.
  *
  * Reference behaviour donor: the reference reloads org metadata per run
  * (`transfer_classifier.py:171-193`), so an ODS refresh there
  * retroactively changes the next run's output for the whole window; the
  * CDC-native equivalent is an O(changed) retro-correction plus
  * new-dim-for-new-epochs.
  */
class DimUpdateSpec extends SparkSpec {
  import spark.implicits._

  private val day = 24L * 3600 * 1000000L
  private val cfg = GenConfig(numConversations = 200, hotConversations = 2,
    hotFragments = 64, redeliveryPermille = 50, epochs = 4)
  private lazy val log = ChangeLogGen.generate(spark, cfg).cache()

  private val baseMonths = Seq(201911, 201912)
  private def baseDim: DataFrame =
    Enrichment.generateDim(spark, numAsids = 997, yearMonths = baseMonths)

  /** Two asids guaranteed present in epoch-0/1 transfers (derived from the
    * log, deterministically) — the delta must provably touch committed rows.
    */
  private lazy val targetAsids: Seq[String] =
    CdcPipeline.classify(log.filter(_.epoch <= 1L), 14 * day)
      .select("requestingPracticeAsid").distinct().as[String]
      .collect().sorted.take(2).toSeq

  /** Changed snapshots: new names for the target asids at 201912 (rewrites
    * the fallback rows January-2020 transfers resolve to) plus a brand-new
    * 202001 snapshot for the first (overrides its previous-month fallback).
    */
  private lazy val delta: DataFrame = (
    targetAsids.map(a => Enrichment.OrgDimRow(a, s"O-$a-upd",
      s"Practice $a (refreshed)", "S900", "SICBL 900", 201912)) :+
      Enrichment.OrgDimRow(targetAsids.head, s"O-${targetAsids.head}-202001",
        s"Practice ${targetAsids.head} (as of 202001)", "S901", "SICBL 901", 202001)
  ).toDF()

  private def foldDelta(dim: DataFrame, d: DataFrame): DataFrame =
    dim.join(d.select("asid", "yearMonth").distinct(),
      Seq("asid", "yearMonth"), "left_anti").unionByName(d)

  // semantic row comparison: everything except the batching-dependent
  // observability counters (excluded from row_sha256 for the same reason)
  private val counters =
    Set("duplicatesDropped", "danglingAcks", "unknownPurpose", "negativeSla")
  private def rowMap(df: DataFrame): Map[String, String] = {
    val cols = df.columns.filterNot(counters).sorted.map(col)
    df.select(col("repo"), to_json(struct(cols.toIndexedSeq: _*)).as("j"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  private def batchEnrich(events: org.apache.spark.sql.Dataset[ChangeEvent],
                          dim: DataFrame): DataFrame =
    Enrichment.enrich(
      CdcPipeline.withRowSha(CdcPipeline.classify(events, 14 * day).toDF()), dim)

  test("dim update retro-corrects via the next epoch and governs later epochs") {
    val eng = new CdcEngine(tmpDir("dimupd"), numBuckets = 8,
      cutoffMicros = 14 * day, dim = Some(baseDim))
    (0L to 1L).foreach(e => eng.applyEpoch(spark, log.filter(_.epoch == e), e))

    val preUpdate = rowMap(eng.currentEnriched(spark))
    // version 0 on the dimlog's OWN chain — deliberately equal to an ingest
    // epoch id, proving the number spaces are disjoint
    eng.applyDimUpdate(spark, delta, version = 0L)
    assert(eng.currentDimVersion == 0L)

    // ingest keeps its DENSE numbering across the committing dim update —
    // the round-4 wedge (dim commit above the enriched head blocking the
    // next ingest id) is structurally gone
    val newDim = foldDelta(baseDim, delta)
    (2L to 3L).foreach(e => eng.applyEpoch(spark, log.filter(_.epoch == e), e))

    val after = rowMap(eng.currentEnriched(spark))
    assert(after == rowMap(batchEnrich(log, newDim)),
      "retro-correction + refreshed-dim epochs must equal one-shot enrichment")
    assert(after != preUpdate, "the refreshed names must be visible")

    // the retro ride happened on epoch 2's enriched commit: this delta
    // INTRODUCES month 202001 (absent from the base dim), which under the
    // reference's whole-month fallback changes resolution for EVERY
    // January transfer — so the affected set is the full table here
    val m2 = eng.enriched.get.manifestAt(2L).get
    val n = m2.lineage("reEnriched")
    assert(n == preUpdate.size,
      s"re-enriched $n of ${preUpdate.size} rows — a month-introducing " +
        "delta must re-enrich every transfer the new month serves")
    assert(m2.metadata(CdcEngine.DimVersionKey) == "0")
    // later epochs carry no further retro work
    assert(!eng.enriched.get.manifestAt(3L).get.lineage.contains("reEnriched"))
    // and the delta rows are durable on the dimlog chain
    assert(eng.dimlog.get.manifestAt(0L).get.kind == "dim-update")
    assert(eng.dimlog.get.manifestAt(0L).get.lineage("deltaRows") == 3L)
  }

  test("a non-introducing delta stays asid-scoped: O(affected), not O(table)") {
    val eng = new CdcEngine(tmpDir("dimupd-scoped"), numBuckets = 8,
      cutoffMicros = 14 * day,
      // 202001 present from the start — transfers resolve via their own
      // month, and a delta that only UPDATES existing months cannot change
      // resolution for asids it does not touch
      dim = Some(Enrichment.generateDim(spark, numAsids = 997,
        yearMonths = Seq(201912, 202001))))
    (0L to 1L).foreach(e => eng.applyEpoch(spark, log.filter(_.epoch == e), e))
    val total = rowMap(eng.currentEnriched(spark)).size
    val scopedDelta = targetAsids.map(a => Enrichment.OrgDimRow(a, s"O-$a-upd2",
      s"Practice $a (refreshed)", "S900", "SICBL 900", 202001)).toDF()
    eng.applyDimUpdate(spark, scopedDelta, version = 0L)
    eng.applyEpoch(spark, log.filter(_.epoch == 2L), 2L)
    val n = eng.enriched.get.manifestAt(2L).get.lineage("reEnriched")
    assert(n > 0 && n < total,
      s"re-enriched $n of $total rows — must be the asid-affected subset")
    // and the result still equals the one-shot batch with the folded dim
    val folded = foldDelta(
      Enrichment.generateDim(spark, numAsids = 997,
        yearMonths = Seq(201912, 202001)), scopedDelta)
    assert(rowMap(eng.currentEnriched(spark)) ==
      rowMap(batchEnrich(log.filter(_.epoch <= 2L), folded)))
  }

  test("flushDimUpdates retro-corrects immediately when no ingest follows") {
    val eng = new CdcEngine(tmpDir("dimflush"), numBuckets = 8,
      cutoffMicros = 14 * day, dim = Some(baseDim))
    (0L to 1L).foreach(e => eng.applyEpoch(spark, log.filter(_.epoch == e), e))
    eng.applyDimUpdate(spark, delta, version = 0L)

    // a flush id must be a free id above the enriched head, or an earlier
    // flush: epoch 1 is an ingest commit there — rejected, nothing commits
    val headBefore = eng.enriched.get.latestManifest()
    intercept[IllegalArgumentException] { eng.flushDimUpdates(spark, epoch = 1L) }
    assert(eng.enriched.get.latestManifest() == headBefore)

    val n = eng.flushDimUpdates(spark, epoch = 100L)
    assert(n > 0)
    // an id below the head (and not a flush) is rejected, nothing commits
    val headAfter = eng.enriched.get.latestManifest()
    intercept[IllegalArgumentException] { eng.flushDimUpdates(spark, epoch = 50L) }
    assert(eng.enriched.get.latestManifest() == headAfter)
    assert(rowMap(eng.currentEnriched(spark)) ==
      rowMap(batchEnrich(log.filter(_.epoch <= 1L), foldDelta(baseDim, delta))),
      "flushed state must equal one-shot enrichment with the refreshed dim")
    val m = eng.enriched.get.manifestAt(100L).get
    assert(m.kind == "dim-update" && m.lineage("reEnriched") == n)
    // replaying the committed flush is a no-op returning the same count
    assert(eng.flushDimUpdates(spark, epoch = 100L) == n)
    // an ingest epoch reusing the flush id aborts before any table commits
    intercept[IllegalArgumentException] {
      eng.applyEpoch(spark, log.filter(_.epoch == 2L), 100L)
    }
    assert(eng.state.manifestAt(100L).isEmpty && eng.transfers.manifestAt(100L).isEmpty)
  }

  test("a restarted engine rebuilds the dim from the dimlog — no feed replay") {
    val dir = tmpDir("dimrestart")
    val first = new CdcEngine(dir, numBuckets = 8,
      cutoffMicros = 14 * day, dim = Some(baseDim))
    (0L to 1L).foreach(e => first.applyEpoch(spark, log.filter(_.epoch == e), e))
    first.applyDimUpdate(spark, delta, version = 7L)

    // "restart": a fresh instance over the same warehouse, constructed with
    // the SEED dim only — the round-4 gap was that this instance silently
    // enriched future epochs with the stale seed
    val resumed = new CdcEngine(dir, numBuckets = 8,
      cutoffMicros = 14 * day, dim = Some(baseDim))
    assert(resumed.currentDimVersion == 7L)
    (2L to 3L).foreach(e => resumed.applyEpoch(spark, log.filter(_.epoch == e), e))

    assert(rowMap(resumed.currentEnriched(spark)) ==
      rowMap(batchEnrich(log, foldDelta(baseDim, delta))),
      "the restarted engine must enrich with the refreshed dim AND " +
        "retro-correct the pre-restart rows")
    assert(resumed.enriched.get.manifestAt(2L).get.lineage("reEnriched") > 0)
  }

  test("a pure-redelivery epoch carries a pending retro-correction cleanly") {
    // the review finding: an epoch whose batch yields ZERO transfer upserts
    // (all events resolve to already-durable copies, emit-on-change emits
    // nothing) used to crash the enriched commit while a dim refresh was
    // pending — the un-enriched empty base had no enrichment columns to
    // union with the retro rows. It must instead commit the retro rows.
    val eng = new CdcEngine(tmpDir("dimredeliver"), numBuckets = 8,
      cutoffMicros = 14 * day, dim = Some(baseDim))
    (0L to 1L).foreach(e => eng.applyEpoch(spark, log.filter(_.epoch == e), e))
    eng.applyDimUpdate(spark, delta, version = 0L)

    // epoch 2's batch = a verbatim redelivery of epoch 0's events
    eng.applyEpoch(spark, log.filter(_.epoch == 0L), 2L)
    val m2 = eng.enriched.get.manifestAt(2L).get
    assert(m2.lineage("reEnriched") > 0,
      "the retro-correction must ride the redelivery epoch's commit")
    assert(rowMap(eng.currentEnriched(spark)) ==
      rowMap(batchEnrich(log.filter(_.epoch <= 1L), foldDelta(baseDim, delta))),
      "state must equal one-shot enrichment with the refreshed dim")
  }

  test("a failed dim-state rebuild retries instead of pinning the stale seed") {
    val dir = tmpDir("dimrebuild")
    val first = new CdcEngine(dir, numBuckets = 8,
      cutoffMicros = 14 * day, dim = Some(baseDim))
    first.applyEpoch(spark, log.filter(_.epoch == 0L), 0L)
    first.applyDimUpdate(spark, delta, version = 3L)

    // corrupt the dimlog manifest so a fresh engine's first rebuild throws…
    val mPath = java.nio.file.Paths.get(dir, "dimlog", "manifests")
    val mFile = java.nio.file.Files.list(mPath).iterator().next()
    val good = java.nio.file.Files.readAllBytes(mFile)
    java.nio.file.Files.write(mFile, "not json".getBytes)
    val resumed = new CdcEngine(dir, numBuckets = 8,
      cutoffMicros = 14 * day, dim = Some(baseDim))
    intercept[Exception] { resumed.currentDimVersion }
    // …then heal the manifest: the SAME engine instance must rebuild on the
    // next call, not stay pinned to the stale seed with a set init flag
    java.nio.file.Files.write(mFile, good)
    assert(resumed.currentDimVersion == 3L,
      "the rebuild must retry after a transient failure")
  }

  test("pending retro-correction pushes its asid predicates to the parquet scan") {
    // the O(affected) claim is a PLAN property: over COMPACTED (single-file)
    // buckets — the steady state — the (asid × month) superset filter must
    // reach the transfers parquet scan. (Buckets still holding unresolved
    // deltas filter after last-writer-wins resolution: an asid may change
    // across a key's versions, so pushing below the window would be wrong.)
    val eng = new CdcEngine(tmpDir("dimplan"), numBuckets = 8,
      cutoffMicros = 14 * day, dim = Some(baseDim))
    eng.applyEpoch(spark, log.filter(_.epoch == 0L), 0L) // one epoch → 1 file/bucket
    val asid = CdcPipeline.classify(log.filter(_.epoch == 0L), 14 * day)
      .select("requestingPracticeAsid").distinct().as[String].collect().min
    eng.applyDimUpdate(spark, Seq(Enrichment.OrgDimRow(asid, "O-p", "P-p",
      "S9", "SB9", 201912)).toDF(), version = 0L)
    val re = eng.pendingReEnrich(spark, asOf = Long.MaxValue, excludeRepos = None)
      .getOrElse(fail("a committed dim update must leave a pending set"))
    val scans = re.queryExecution.sparkPlan.collectLeaves()
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.nonEmpty)
    // a singleton asid set folds In → EqualTo; either form proves pushdown
    val pushedAsid = scans.map(_.metadata("PushedFilters")).filter(p =>
      (p.contains("In(requestingPracticeAsid") ||
        p.contains("EqualTo(requestingPracticeAsid")) &&
        (p.contains("In(sendingPracticeAsid") ||
          p.contains("EqualTo(sendingPracticeAsid")))
    assert(pushedAsid.nonEmpty,
      s"asid IN-predicates must push to the transfers scan: " +
        scans.map(_.metadata("PushedFilters")).mkString(" | "))
  }

  test("dim updates are idempotent and independent replays converge") {
    def run(dir: String): CdcEngine = {
      val eng = new CdcEngine(dir, numBuckets = 8,
        cutoffMicros = 14 * day, dim = Some(baseDim))
      (0L to 1L).foreach(e => eng.applyEpoch(spark, log.filter(_.epoch == e), e))
      eng.applyDimUpdate(spark, delta, version = 2L)
      (2L to 3L).foreach(e => eng.applyEpoch(spark, log.filter(_.epoch == e), e))
      eng
    }
    val a = run(tmpDir("dimreplay-a"))
    val b = run(tmpDir("dimreplay-b"))
    assert(rowMap(a.currentEnriched(spark)) == rowMap(b.currentEnriched(spark)),
      "independent replays of the same feed must converge")

    // re-running the committed version returns the existing manifest and
    // leaves both chains untouched
    val head = a.enriched.get.latestManifest().get
    val dimHead = a.dimlog.get.latestManifest().get
    val again = a.applyDimUpdate(spark, delta, version = 2L)
    assert(again == dimHead)
    assert(a.enriched.get.latestManifest().get == head, "no new commit on replay")
  }

  test("an aborted dim update leaves the active dim, months and version untouched") {
    val eng = new CdcEngine(tmpDir("dimabort"), numBuckets = 8,
      cutoffMicros = 14 * day, dim = Some(baseDim),
      dimMonths = Some(baseMonths.toSet))
    eng.applyEpoch(spark, log.filter(_.epoch == 0L), 0L)
    eng.applyDimUpdate(spark, delta, version = 5L)
    val monthsBefore = eng.currentDimMonths
    val dimBefore = eng.currentDim.get
    // below the dimlog head — must abort before any state mutates
    intercept[IllegalArgumentException] {
      eng.applyDimUpdate(spark, delta, version = 3L)
    }
    assert(eng.currentDimMonths == monthsBefore)
    assert(eng.currentDim.get eq dimBefore,
      "the active dim must be the exact pre-abort instance")
    assert(eng.currentDimVersion == 5L)
    // and a delta with two versions of one (asid, yearMonth) is rejected
    intercept[IllegalArgumentException] {
      eng.applyDimUpdate(spark, delta.unionByName(delta), version = 6L)
    }
  }

  test("strict heal with dense ids: abort, committing dim refresh (n>0), same-id retry") {
    // the round-4 ADVICE wedge: epochs 0..e committed with DENSE ids, epoch
    // e+1 strict-aborts, the healing dim refresh REALLY commits (and owes a
    // retro-correction to committed rows), and the SAME id e+1 must retry.
    val t0 = 1579046400000000L // 2020-01-15T00:00Z
    val feb = 1581292800000000L // 2020-02-10T00:00Z
    val minute = 60L * 1000000L
    def msg(conv: String, guid: String, t: Long, interaction: String,
            from: String, ref: Option[String]) = MessageParser.format(
      graft.classifier.SpineMessage(t, conv, guid, interaction, from,
        if (from == "A") "B" else "A", ref, None, Some("EMIS Web"), Some("Vision")))
    import graft.classifier.Interactions._
    def conv(repo: String, start: Long, offset0: Long, epoch: Long): Seq[ChangeEvent] = Seq(
      ChangeEvent(repo, "p", s"$repo-req", "scala",
        msg(repo, s"$repo-req", start, EhrRequestStarted, "A", None),
        offset0, "insert", start, epoch),
      ChangeEvent(repo, "p", s"$repo-ehr", "scala",
        msg(repo, s"$repo-ehr", start + minute, EhrRequestCompleted, "B", None),
        offset0 + 1, "insert", start + minute, epoch),
      ChangeEvent(repo, "p", s"$repo-ack", "scala",
        msg(repo, s"$repo-ack", start + 2 * minute, ApplicationAck, "A",
          Some(s"$repo-ehr")),
        offset0 + 2, "insert", start + 2 * minute, epoch))
    val seed = Seq(Enrichment.OrgDimRow("A", "O-A", "Practice A (2019-12)",
      "S1", "SB1", 201912)).toDF()
    val eng = new CdcEngine(tmpDir("strict-dense"), numBuckets = 4,
      cutoffMicros = 14 * day, dim = Some(seed),
      dimMonths = Some(Set(201912)), strictDimMonths = true)

    // epoch 0: January conversation — covered via the 201912 fallback
    eng.applyEpoch(spark, conv("r1", t0, 0L, 0L).toDS(), 0L)
    // epoch 1: February conversation — 202002 and 202001 both lack a
    // snapshot → the reference's OdsMetadataNotFound; side-effect-free abort
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val ex = intercept[IllegalStateException] {
      eng.applyEpoch(spark, conv("r2", feb, 10L, 1L).toDS(), 1L)
    }
    assert(ex.getMessage.contains("OdsMetadataNotFound"))
    // the abort neither leaks its phase tag to the caller's jobs nor pins
    // the fold's cached output
    assert(spark.sparkContext.getLocalProperty("spark.job.description") == null)
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore)
    assert(eng.state.manifestAt(1L).isEmpty && eng.transfers.manifestAt(1L).isEmpty)

    // the heal: a 202001 snapshot (covers February via fallback) that ALSO
    // renames asid A for January — so the refresh owes a retro-correction
    // to the COMMITTED epoch-0 row (the n>0 case the old design wedged on)
    eng.applyDimUpdate(spark, Seq(Enrichment.OrgDimRow("A", "O-A-upd",
      "Practice A (refreshed)", "S9", "SB9", 202001)).toDF(), version = 0L)

    // the SAME ingest epoch id retries cleanly — dense numbering holds
    eng.applyEpoch(spark, conv("r2", feb, 10L, 1L).toDS(), 1L)
    assert(eng.committedThrough().contains(1L))
    val m1 = eng.enriched.get.manifestAt(1L).get
    assert(m1.lineage("reEnriched") > 0,
      "the committed January row must have been retro-corrected")
    val enrichedNames = eng.currentEnriched(spark)
      .select("repo", "requesting_practice_name").as[(String, String)]
      .collect().toMap
    assert(enrichedNames("r1") == "Practice A (refreshed)",
      "the January row must as-of-resolve to the refreshed 202001 snapshot")
    assert(enrichedNames("r2") == "Practice A (refreshed)")
  }

  test("fifty dim updates keep the active dim's plan flat (materialized folds)") {
    val eng = new CdcEngine(tmpDir("dimflat"), numBuckets = 4,
      cutoffMicros = 14 * day, dim = Some(baseDim))
    (1L to 50L).foreach { v =>
      eng.applyDimUpdate(spark,
        Seq(Enrichment.OrgDimRow(s"asid-$v", s"O-$v", s"P$v (v$v)",
          "S1", "SB1", 201912)).toDF(), version = v)
    }
    // each fold materializes to a local relation — plan depth must not grow
    // with the number of updates (the round-4 lineage-growth finding)
    val planLines = eng.currentDim.get.queryExecution.logical
      .numberedTreeString.linesIterator.size
    assert(planLines <= 3, s"active dim plan grew to $planLines nodes")
    assert(eng.currentDimVersion == 50L)
  }

  test("flushDimUpdates honors out-of-band compaction (no inline rewrite at a parked id)") {
    // the review finding: a flush at a parked epoch id with inline
    // compaction would treat every enriched file as beyond the retention
    // horizon and resolve away versions changeRetention promised to keep —
    // an engine configured for out-of-band maintenance must flush without
    // compacting
    val eng = new CdcEngine(tmpDir("dimflush-oob"), numBuckets = 8,
      cutoffMicros = 14 * day, dim = Some(baseDim),
      inlineCompaction = false, compactThreshold = 2, changeRetention = 16)
    (0L to 3L).foreach(e => eng.applyEpoch(spark, log.filter(_.epoch == e), e))
    eng.applyDimUpdate(spark, delta, version = 0L)

    val before = eng.enriched.get.latestManifest().get.files
      .filter(_.epochAdded <= 3L).map(_.path).toSet
    val n = eng.flushDimUpdates(spark, epoch = 100L)
    assert(n > 0)
    val after = eng.enriched.get.latestManifest().get.files
      .filter(_.epochAdded <= 3L).map(_.path).toSet
    assert(after == before,
      "a flush on an out-of-band-compaction engine must not rewrite prior files")
  }

  test("strictDimMonths without dimMonths is rejected at construction") {
    intercept[IllegalArgumentException] {
      new CdcEngine(tmpDir("strict-bad"), numBuckets = 4,
        cutoffMicros = 14 * day, strictDimMonths = true)
    }
  }

  private def namesAt(dim: DataFrame, ym: Int): Map[String, String] =
    dim.filter(col("yearMonth") === ym && col("asid").isin(targetAsids: _*))
      .select("asid", "name").as[(String, String)].collect().toMap

  test("replaying a stale committed version cannot overwrite newer dim rows") {
    val eng = new CdcEngine(tmpDir("dimstale"), numBuckets = 8,
      cutoffMicros = 14 * day, dim = Some(baseDim))
    (0L to 1L).foreach(e => eng.applyEpoch(spark, log.filter(_.epoch == e), e))
    eng.applyDimUpdate(spark, delta, version = 2L)
    val newer = targetAsids.map(a => Enrichment.OrgDimRow(a, s"O-$a-v5",
      s"Practice $a (v5)", "S905", "SICBL 905", 201912)).toDF()
    eng.applyDimUpdate(spark, newer, version = 5L)
    val v5Names = namesAt(eng.currentDim.get, 201912)
    assert(v5Names.values.forall(_.endsWith("(v5)")))
    val dimHead = eng.dimlog.get.latestManifest().get

    // a stale rerun (old GRAFT_DIM_UPDATE_VERSION, partial feed replay)
    // must return the existing manifest and change NOTHING: the v2 rows
    // must not shadow v5's for the overlapping (asid, yearMonth) keys
    val m = eng.applyDimUpdate(spark, delta, version = 2L)
    assert(m.epoch == 2L)
    assert(eng.currentDimVersion == 5L, "version watermark must keep the head")
    assert(namesAt(eng.currentDim.get, 201912) == v5Names,
      "stale replay overwrote newer dim rows")
    assert(eng.dimlog.get.latestManifest().get == dimHead, "no new commit")
  }

  test("a recovery replay folds the COMMITTED rows, not the caller's file") {
    val dir = tmpDir("dimrecover")
    // b models the crash-recovery session: its in-memory dim state pins
    // BEFORE the commit (fold crashed after the manifest landed), then the
    // caller replays the version — with a tampered delta file
    val a = new CdcEngine(dir, numBuckets = 8,
      cutoffMicros = 14 * day, dim = Some(baseDim))
    val b = new CdcEngine(dir, numBuckets = 8,
      cutoffMicros = 14 * day, dim = Some(baseDim))
    assert(b.currentDimVersion == -1L) // pins b's state at the empty chain
    a.applyDimUpdate(spark, delta, version = 2L)

    val tampered = targetAsids.map(a0 => Enrichment.OrgDimRow(a0,
      s"O-$a0-bad", "TAMPERED", "S999", "SICBL 999", 201912)).toDF()
    val m = b.applyDimUpdate(spark, tampered, version = 2L)
    assert(m.epoch == 2L)
    assert(b.currentDimVersion == 2L, "recovery replay advances the version")
    val names = namesAt(b.currentDim.get, 201912)
    assert(names.nonEmpty && names.values.forall(_.endsWith("(refreshed)")),
      s"recovery fold must use the committed rows, got $names")
  }
}
