package graft.cdc

import graft.classifier.{SpineMessage, TransferClassifier}
import graft.lake.{BucketAligned, LakeTable, Manifest}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.reflect.ClassTag

/** Classified output fact row MERGE'd into the lake, keyed by `repo`
  * (= conversation). Carries the reference Transfer columns
  * (`pipeline/arrow.py:33-75`) plus per-key lineage (event counts, offset
  * bounds, dedup drops) — the `_lineage`-style metrics the north_star asks
  * to emit per partition.
  */
final case class TransferRecord(
    repo: String,
    conversationId: String,
    slaDurationSeconds: Option[Long],
    requestingPracticeAsid: String,
    sendingPracticeAsid: String,
    requestingSupplier: Option[String],
    sendingSupplier: Option[String],
    senderErrorCodes: Seq[Option[Int]],
    finalErrorCodes: Seq[Option[Int]],
    intermediateErrorCodes: Seq[Int],
    status: String,
    failureReason: Option[String],
    dateRequestedMicros: Long,
    dateCompletedMicros: Option[Long],
    lastSenderMessageTimestampMicros: Option[Long],
    eventCount: Long,
    duplicatesDropped: Long,
    minOffset: Long,
    maxOffset: Long,
    // observability counters (reference log probes as numbers; excluded
    // from row_sha256 like duplicatesDropped)
    danglingAcks: Long,
    unknownPurpose: Long,
    negativeSla: Long,
)

object CdcPipeline {

  /** Allocation-free (tsMicros, offset) total order: the session order of
    * every fold. The Ordering.by tuple formulation allocates a Tuple2 + two
    * boxed longs PER COMPARISON — measurable on the memory-bandwidth-bound
    * fold path.
    */
  private val eventOrder: java.util.Comparator[SessionEvent] =
    new java.util.Comparator[SessionEvent] {
      override def compare(a: SessionEvent, b: SessionEvent): Int = {
        val c = java.lang.Long.compare(a.tsMicros, b.tsMicros)
        if (c != 0) c else java.lang.Long.compare(a.offset, b.offset)
      }
    }

  /** The central sessionize-and-classify fold: one shuffle (groupByKey on the
    * session key), then a single in-memory pass per key —
    * dedup by event id keeping the FIRST-seen offset (idempotence under
    * redelivery), schema-on-read parse, stable (time, offset) sort, cutoff,
    * state machine. Mirrors reference `transfer_service.py:55-96` with the
    * defaultdict group-by replaced by a real distributed shuffle.
    */
  def classify(events: Dataset[ChangeEvent], cutoffMicros: Long): Dataset[TransferRecord] = {
    import events.sparkSession.implicits._
    // narrow Tungsten projection BEFORE the sessionize shuffle: the fold
    // never reads path/lang/op, so they never cross the wire (the exchange
    // carries SlimEvent rows — asserted in PlanSpec)
    events.select(col("repo"), col("commit"), col("content"),
        col("offset"), col("tsMicros"), col("epoch")).as[SlimEvent]
      .groupByKey(_.repo).flatMapGroups { (repo, it) =>
        classifyGroup(repo, it, cutoffMicros).iterator
      }
  }

  /** Lift raw change events into the apply fold's row type (no pre-parsed
    * message — the fold parses them once, on first apply).
    */
  def toApplyEvents(events: Dataset[ChangeEvent]): Dataset[ApplyEvent] = {
    import events.sparkSession.implicits._
    events.toDF()
      .withColumn("parsed", lit(null).cast(
        org.apache.spark.sql.Encoders.product[SpineMessage].schema))
      .as[ApplyEvent]
  }

  /** One deduped session: the first-seen copy of each commit, sorted by
    * (tsMicros, offset), and the number of redelivered copies dropped.
    */
  final class Session[E <: SessionEvent](val winners: Array[E], val dropped: Long)

  /** The session kernel, shared by batch `classify` (`classifyGroup`), the
    * epoch fold (`applyGroup`) and the streaming fold: dedup by commit
    * (event id) keeping the FIRST-SEEN copy — min offset, then min epoch, so
    * an exact-offset redelivery keeps the already-durable copy regardless of
    * iterator order (replay/redelivery idempotence); on a full tie the copy
    * met first wins — then sort the winners by (tsMicros, offset).
    */
  def dedupSession[E <: SessionEvent: ClassTag](events: Iterator[E]): Session[E] = {
    val byCommit = mutable.HashMap.empty[String, E]
    var dropped = 0L
    events.foreach { e =>
      byCommit.get(e.commit) match {
        case Some(prev) =>
          dropped += 1
          if (e.offset < prev.offset ||
              (e.offset == prev.offset && e.epoch < prev.epoch))
            byCommit.update(e.commit, e)
        case None => byCommit.update(e.commit, e)
      }
    }
    val winners = byCommit.values.toArray
    java.util.Arrays.sort(winners, eventOrder)
    new Session(winners, dropped)
  }

  /** Classify a deduped session: `msgs(i)` is the parsed message of
    * `session.winners(i)`. The state machine stable-sorts by message time,
    * so the winners' (tsMicros, offset) order breaks its ties — the same
    * deterministic total order on every path. The record carries the
    * session's lineage: winner count, dropped copies, offset bounds.
    */
  def classifySession(repo: String, session: Session[_ <: SessionEvent],
                      msgs: Seq[SpineMessage], cutoffMicros: Long): Option[TransferRecord] = {
    val counters = new graft.classifier.Gp2gpSession.Counters
    TransferClassifier.classify(msgs, cutoffMicros, counters).map { t =>
      var minOff = Long.MaxValue
      var maxOff = Long.MinValue
      session.winners.foreach { e =>
        if (e.offset < minOff) minOff = e.offset
        if (e.offset > maxOff) maxOff = e.offset
      }
      TransferRecord(
        repo = repo,
        conversationId = t.conversationId,
        slaDurationSeconds = t.slaDurationSeconds,
        requestingPracticeAsid = t.requestingPracticeAsid,
        sendingPracticeAsid = t.sendingPracticeAsid,
        requestingSupplier = t.requestingSupplier,
        sendingSupplier = t.sendingSupplier,
        senderErrorCodes = t.senderErrorCodes,
        finalErrorCodes = t.finalErrorCodes,
        intermediateErrorCodes = t.intermediateErrorCodes,
        status = t.status,
        failureReason = t.failureReason,
        dateRequestedMicros = t.dateRequestedMicros,
        dateCompletedMicros = t.dateCompletedMicros,
        lastSenderMessageTimestampMicros = t.lastSenderMessageTimestampMicros,
        eventCount = session.winners.length.toLong,
        duplicatesDropped = session.dropped,
        minOffset = minOff,
        maxOffset = maxOff,
        danglingAcks = counters.danglingAcks,
        unknownPurpose = counters.unknownPurpose,
        negativeSla = counters.negativeSla,
      )
    }
  }

  /** Per-key batch fold: the session kernel, one parse per winner, classify. */
  def classifyGroup(
      repo: String, events: Iterator[SlimEvent], cutoffMicros: Long): Option[TransferRecord] = {
    val session = dedupSession(events)
    classifySession(repo, session,
      session.winners.iterator.map(e => MessageParser.parse(e.content)).toVector, cutoffMicros)
  }

  /** One output row of the fused epoch fold: either a classified transfer or
    * a fresh (first-seen this epoch) state event — both emitted from the
    * SAME bucket-keyed fold pass (`foldPartition`) so an epoch apply has
    * exactly one shuffle. Fresh events carry their parsed message for the
    * state sink (see ApplyEvent).
    */
  final case class ApplyOut(transfer: Option[TransferRecord], event: Option[ApplyEvent])

  /** Fused per-key epoch fold: the session kernel (`dedupSession`),
    * classify the full session, and emit the deduped events that are NEW
    * this epoch (their first-seen copy carries the current epoch), in
    * (tsMicros, offset) order, for the state table.
    * Prior-state events carry earlier epochs, so a commit redelivered now
    * resolves to its first-seen copy and is NOT re-emitted — the same
    * first-offset-wins rule as full recompute.
    *
    * Each deduped event's message comes from its `parsed` field when
    * present (prior state — parsed exactly once, on first apply) and from
    * one `MessageParser.parse(content)` otherwise (this epoch's raw batch).
    */
  def applyGroup(repo: String, events: Iterator[ApplyEvent],
                 cutoffMicros: Long, currentEpoch: Long,
                 /** Attach each fresh event's parsed message for the state
                   * sink (storeParsedState engines). When false the emitted
                   * events keep parsed = null — attaching unconditionally
                   * would serialize a SpineMessage struct per fresh event
                   * through the fold cache just to be dropped at the sink
                   * (a measured ~10 % apply regression).
                   */
                 keepParsed: Boolean = true): Iterator[ApplyOut] = {
    val session = dedupSession(events)
    val winners = session.winners
    // Emit-on-change: no event of THIS epoch survived dedup ⇒ the session's
    // input set — and therefore its classification — is exactly what the
    // table already committed. Emitting it anyway (which the fold-everything
    // regime and pure-redelivery batches otherwise would) re-stamps an
    // identical row version: the change stream over-reports, downstream
    // incremental consumers (exportDailyIncremental) rewrite unchanged
    // partitions, and the commit writes O(touched sessions) instead of
    // O(changed sessions). Counter-only drift (duplicatesDropped from a
    // redelivered copy) is deliberately not re-committed — counters are
    // diagnostics, excluded from row_sha256 for the same reason.
    // This check runs BEFORE any parse: a pure-redelivery session exits
    // without re-parsing its whole history.
    if (!winners.exists(_.epoch == currentEpoch)) return Iterator.empty
    // parse-or-reuse ONCE per winner; msgs(i) pairs with winners(i), so
    // fresh emissions persist their parsed form
    val msgs = winners.map(e => if (e.parsed != null) e.parsed else MessageParser.parse(e.content))
    // the fold dedups BEFORE classify, so redelivery (in-batch or vs prior
    // state) is counted by the kernel, not by the classifier's inner dedup
    val transfer = classifySession(repo, session, ArraySeq.unsafeWrapArray(msgs), cutoffMicros)
    transfer.iterator.map(t => ApplyOut(Some(t), None)) ++
      winners.indices.iterator.filter(i => winners(i).epoch == currentEpoch).map { i =>
        ApplyOut(None, Some(if (keepParsed) winners(i).copy(parsed = msgs(i)) else winners(i)))
      }
  }

  /** Canonical per-row hash of the classified output — the replay invariant:
    * two table states are identical iff the (key → row_sha256) maps match.
    * `to_json(struct(...))` is deterministic given fixed column order.
    * Observability counters are excluded: `duplicatesDropped` depends on
    * where redelivered copies were dropped (in-batch vs in-state
    * insert-ignore) and the session counters are diagnostics, not semantic
    * session state.
    */
  private val shaExcluded =
    Set("row_sha256", "duplicatesDropped", "danglingAcks", "unknownPurpose", "negativeSla")

  def withRowSha(df: DataFrame): DataFrame = {
    val dataCols = df.columns.filterNot(shaExcluded).sorted.toIndexedSeq.map(col)
    df.withColumn("row_sha256", sha2(to_json(struct(dataCols: _*)), 256))
  }

  /** Exact bucket→partition placement for the epoch fold shuffle.
    * `repartition(n, bucketCol)` murmur3-hashes the bucket VALUE into n
    * slots — balls-in-bins leaves ~1/e of the partitions empty and stacks
    * 2–4 buckets on others, a straggler tail the parallel leg pays
    * directly. probes(b) is an int x with pmod(murmur3(x, 42), n) == b
    * (42 = HashPartitioning's seed), so keying the shuffle on
    * element_at(probes, bucket+1) places every bucket in ITS OWN
    * partition: equal-size fold tasks and exactly one file per touched
    * bucket per sink. Driver-side cost: a few hundred hashInt probes,
    * once per epoch.
    */
  def partitionProbes(n: Int): Seq[Int] = {
    val found = new Array[Integer](n)
    var remaining = n
    var x = 0
    while (remaining > 0) {
      val b = java.lang.Math.floorMod(
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(x, 42), n)
      if (found(b) == null) { found(b) = Integer.valueOf(x); remaining -= 1 }
      x += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(found.map(_.intValue))
  }

  /** Partition-local epoch fold: the input is shuffled by table bucket and
    * sorted by repo (sortWithinPartitions), so each session is one
    * consecutive run — buffer a run and hand it to `applyGroup`. Memory
    * bound = one session's events (the session kernel hash-buffers the session
    * anyway). Output rows stay in their input partition, which is what lets
    * the commits skip their own shuffles.
    */
  def foldPartition(events: Iterator[ApplyEvent], cutoffMicros: Long,
                    currentEpoch: Long, keepParsed: Boolean): Iterator[ApplyOut] =
    new scala.collection.AbstractIterator[ApplyOut] {
      private val buf = events.buffered
      private var cur: Iterator[ApplyOut] = Iterator.empty
      def hasNext: Boolean = {
        while (!cur.hasNext && buf.hasNext) {
          val repo = buf.head.repo
          val run = scala.collection.mutable.ArrayBuffer.empty[ApplyEvent]
          while (buf.hasNext && buf.head.repo == repo) run += buf.next()
          cur = applyGroup(repo, run.iterator, cutoffMicros, currentEpoch, keepParsed)
        }
        cur.hasNext
      }
      def next(): ApplyOut =
        if (hasNext) cur.next() else Iterator.empty.next()
    }
}

/** The incremental CDC engine: tails the change log epoch by epoch and
  * maintains two lake tables —
  *
  *  - `state`:     the deduped event buffer per session key (merge identity
  *                 (repo, commit), bucketed by repo, insert-ignore so the
  *                 first-seen offset of a redelivered event is durable);
  *  - `transfers`: the classified output (merge identity repo, upsert via
  *                 merge-on-read deltas with bounded compaction).
  *
  * An epoch apply touches only the buckets its batch's repos hash into and
  * re-folds only the batch's own sessions (semi-join), and both commits
  * write O(batch) data, so per-epoch cost scales with the batch, not the
  * table — the property that keeps this viable at 10^10 events.
  * Single-shuffle epochs: the sessionize fold shuffles by the TABLE BUCKET
  * key (bucket = f(repo), so sessions still arrive whole), and every commit
  * consumes the cached fold output's physical partitioning as-is — one wide
  * exchange per epoch, ~one file per touched bucket per sink. Fold
  * parallelism therefore equals the bucket count, so size `numBuckets` ≥
  * the cluster's cores (`rebucket` grows it).
  * Exactly-once: both commits are keyed by the epoch number; a re-run
  * of an already-committed epoch is a no-op, and replay from any checkpoint
  * reproduces identical table state (verified via row_sha256 equality).
  */
final class CdcEngine(
    val warehouse: String,
    val numBuckets: Int,
    val cutoffMicros: Long,
    /** Reporting window of this run — when set, every commit manifest carries
      * `start-datetime`/`end-datetime` exactly like the reference stamps
      * every output file (`pipeline/spine_runner.py:39-47`, asserted in
      * `tests/e2e/test_transfer_classifier.py:259-267`).
      */
    val window: Option[ReportingWindow] = None,
    /** The resolved organisation-dimension month (yyyymm) — manifest key
      * `ods-metadata-month`, formatted `"$year-$month"` without zero padding
      * to match the reference's f"{year}-{month}".
      */
    val odsMetadataMonth: Option[Int] = None,
    /** Months (yyyymm) that HAVE a dim snapshot. When set, each epoch counts
      * the transfers whose request month AND its previous month both lack a
      * snapshot — the situation where the reference RAISES
      * (`organisation_metadata_monthly.py:26-34`) while this engine
      * null-pads — and lands it in manifest lineage as
      * `missingDimMonthTransfers` next to the other observability counters.
      */
    val dimMonths: Option[Set[Int]] = None,
    /** false ⇒ epoch applies never compact inline; run `maintain()` out of
      * band (its own epochs) so ingest commit latency stays flat instead of
      * spiking when a bucket crosses its compaction threshold.
      */
    val inlineCompaction: Boolean = true,
    /** Organisation dimension (monthly snapshots, `Enrichment.OrgDimRow`
      * shape). When set, the engine ALSO maintains an `enriched` lake table:
      * each epoch's transfer upserts are enriched (`Enrichment.enrichWith`:
      * two lookups per row in the effective dim, broadcast once per dim
      * version — the upserts are never shuffled and no dim job runs per
      * epoch) before a third concurrent merge-on-read commit, so the
      * reference pipeline's final output (classified + org metadata) is
      * itself incrementally maintained instead of recomputed O(table) per
      * read. The dim seeds the engine; a later snapshot refresh (the
      * reference reloads metadata per run, `transfer_classifier.py:171-193`,
      * so a monthly ODS refresh there retroactively affects the next run's
      * output) is applied CDC-natively via `applyDimUpdate`: the delta is
      * committed durably to the engine's `dimlog` chain, governs every
      * subsequent epoch's enrichment, and its retro-correction of
      * already-committed rows rides the next epoch's enriched commit
      * (O(affected) only).
      */
    val dim: Option[DataFrame] = None,
    /** true ⇒ an epoch whose batch contains transfers with NO dim snapshot
      * for the request month or its previous month ABORTS (before any table
      * commits) instead of null-padding + counting — the reference's
      * fail-fast (`organisation_metadata_monthly.py:26-34` raises
      * OdsMetadataNotFound). Requires `dimMonths` to be declared; the
      * aborted epoch is side-effect-free, so the caller can refresh the dim
      * (applyDimUpdate) and retry the SAME epoch id.
      */
    val strictDimMonths: Boolean = false,
    /** Persist each fresh event's PARSED message next to its raw content in
      * the state table, so every later epoch's prior-state read supplies
      * the stored parse and prunes the content column away entirely (no
      * re-read, no re-parse — proven by the decoy-content test). This is a
      * measured TRADE, not a free win: when `content` is large relative to
      * its parsed extract (the north-star shape — source-file payloads,
      * where parsed metadata is a tiny fraction of the blob) it removes
      * most prior-read/shuffle bytes; when content IS the compact message
      * (this repo's bench fixtures) the duplicated fields cost ~+26 %
      * shuffle bytes (task-metrics-measured) for no byte win, so the
      * default stays off. Classification output is identical either way
      * (PipelinedApplySpec parity test).
      */
    val storeParsedState: Boolean = false,
    /** Max live files per bucket before a commit compacts that bucket —
      * passed through to every engine-owned table (see
      * `LakeTable.compactThreshold`). Raise it together with
      * `changeRetention` when slow `changesSince` consumers need more
      * intermediate versions kept readable.
      */
    val compactThreshold: Int = 8,
    /** Change-stream retention horizon in epochs for every engine-owned
      * table: compaction leaves files added within the last
      * `changeRetention` epochs untouched, so a downstream `changesSince`
      * consumer (e.g. the incremental daily exporter) lagging by at most
      * this many epochs still sees every intermediate row version instead
      * of only the compacted winners. 0 = compact everything eligible.
      */
    val changeRetention: Int = 0,
) {
  /** The dim in force for subsequent epoch enrichment — the constructor
    * `dim` (seed) overlaid with every committed `applyDimUpdate` delta.
    * Rebuilt from the durable `dimlog` chain on first use (see
    * `ensureDimState`), so a restarted engine never silently enriches with
    * a stale dim.
    */
  // seed dims are caller-supplied and unvalidated — dedup once at entry
  // (duplicate (asid, yearMonth) rows would fan transfers out into
  // duplicate enriched rows; effectiveAsOf expects key-unique dims)
  @volatile private var activeDim: Option[DataFrame] = dim.map(Enrichment.dedupDim)
  def currentDim: Option[DataFrame] = { ensureDimState(); activeDim }

  /** Months with a dim snapshot, as currently known — the constructor
    * declaration extended by every `applyDimUpdate` delta (in-session or
    * rebuilt from the dimlog), so a strict-mode abort heals by refreshing
    * the dim and retrying the same epoch id.
    */
  @volatile private var activeDimMonths: Option[Set[Int]] = dimMonths
  def currentDimMonths: Option[Set[Int]] = { ensureDimState(); activeDimMonths }

  /** Highest dim version folded into `activeDim` (-1 = seed only). Version
    * ids are the dimlog's OWN monotonic number space, disjoint from ingest
    * epoch ids by construction — the property that lets a strictDimMonths
    * abort heal (refresh the dim, retry the SAME ingest epoch id) without
    * the dim commit wedging the ingest chain's head ordering.
    */
  @volatile private var dimVersion: Long = -1L
  def currentDimVersion: Long = { ensureDimState(); dimVersion }

  @volatile private var dimInited: Boolean = false

  /** Distinct months of the constructor seed dim (memoized tiny collect) —
    * `pendingReEnrich` needs month PRESENCE at the watermark to detect
    * deltas that introduce a new month (whole-month fallback semantics).
    */
  @volatile private var seedDimMonthsMemo: Option[Set[Int]] = None

  /** Months added by committed dim deltas (rebuilt from the dimlog at
    * ensureDimState, extended per applyDimUpdate fold). seed ∪ this = the
    * ACTIVE dim's month presence — maintained incrementally so the
    * per-epoch enriched commit never pays `effectiveAsOf`'s presence job.
    */
  @volatile private var dimDeltaMonthsAcc: Set[Int] = Set.empty

  private def seedDimMonths: Set[Int] = seedDimMonthsMemo.getOrElse {
    val s = Enrichment.presentMonths(dim.get)
    seedDimMonthsMemo = Some(s)
    s
  }
  private def presentDimMonths: Set[Int] = seedDimMonths ++ dimDeltaMonthsAcc

  /** The active dim's `Enrichment.effectiveMap`, broadcast once per dim
    * version: every enriched commit and retro-correction enriches through it
    * (`Enrichment.enrichWith`), so no commit runs a dim job. Built on first
    * use after the active dim changes (`activeDimChanged`).
    */
  @volatile private var effectiveDimMemo: Option[Broadcast[Enrichment.EffectiveDim]] = None

  private def effectiveDim: Broadcast[Enrichment.EffectiveDim] = synchronized {
    effectiveDimMemo.getOrElse {
      val d = activeDim.get
      val b = d.sparkSession.sparkContext.broadcast(
        Enrichment.effectiveMap(d, presentDimMonths))
      effectiveDimMemo = Some(b)
      b
    }
  }

  private def activeDimChanged(): Unit = synchronized {
    effectiveDimMemo.foreach(_.unpersist())
    effectiveDimMemo = None
  }

  /** Memoized `state.bornWith("parsed")` — the birth schema is immutable
    * once the first commit exists, so the per-epoch manifest listing +
    * JSON parse it costs is paid at most once. Left un-cached while the
    * warehouse is still empty (the answer can flip at the first commit).
    */
  @volatile private var stateBornWithParsedMemo: Option[Boolean] = None
  private def stateBornWithParsed: Boolean = stateBornWithParsedMemo.getOrElse {
    if (state.latestManifest().isEmpty) false
    else {
      val v = state.bornWith("parsed")
      stateBornWithParsedMemo = Some(v)
      v
    }
  }

  require(!strictDimMonths || dimMonths.isDefined,
    "strictDimMonths requires dimMonths — the engine can only fail fast on " +
      "months it knows are missing")

  val state = new LakeTable(s"$warehouse/state", numBuckets,
    keyColumns = Seq("repo", "commit"), bucketColumns = Seq("repo"),
    compactThreshold = compactThreshold, changeRetention = changeRetention)
  // merge-on-read: per-epoch deltas + read-time last-writer-wins + bounded
  // compaction — a hot bucket touched every epoch costs O(its upserts), not
  // O(the whole bucket rewritten)
  val transfers = new LakeTable(s"$warehouse/transfers", numBuckets,
    keyColumns = Seq("repo"), mergeOnRead = true,
    compactThreshold = compactThreshold, changeRetention = changeRetention)
  /** The enriched-output table — only when a `dim` is supplied. */
  val enriched: Option[LakeTable] = dim.map(_ =>
    new LakeTable(s"$warehouse/enriched", numBuckets,
      keyColumns = Seq("repo"), mergeOnRead = true,
      compactThreshold = compactThreshold, changeRetention = changeRetention))
  /** The dim-update change log — its OWN manifest chain, so dim versions
    * never share the ingest epoch number space. Each `applyDimUpdate`
    * commits its delta ROWS here (merge-on-read on (asid, yearMonth)), so
    * the active dim is durable: a restarted engine rebuilds
    * seed ⊕ dimlog-snapshot from the chain alone, no caller replay of the
    * dim feed needed. Broadcast-small by the same contract as `dim`.
    */
  val dimlog: Option[LakeTable] = dim.map(_ =>
    new LakeTable(s"$warehouse/dimlog", numBuckets = 4,
      keyColumns = Seq("asid", "yearMonth"), mergeOnRead = true))

  /** Rebuild the in-memory dim state from the durable dimlog chain, once
    * per engine instance: activeDim = seed ⊕ resolved dimlog snapshot
    * (last-writer-wins per (asid, yearMonth) by version), months extended
    * with the dimlog's, version = the chain head. Without this, operator
    * error at restart would silently enrich future epochs with the stale
    * seed (the round-4 "process state, not durable" gap).
    */
  private def ensureDimState(): Unit = synchronized {
    if (dimInited) return
    dimlog.foreach { dl =>
      dl.latestManifest() match {
        case Some(head) =>
          val spark = dim.get.sparkSession
          import spark.implicits._
          val snap = LakeTable.readSnapshot(dl, spark)
            .select(dim.get.columns.map(col).toIndexedSeq: _*)
          // activeDim here is still the (deduped) seed — dimInited is false
          val folded = activeDim.get
            .join(snap.select("asid", "yearMonth").distinct(),
              Seq("asid", "yearMonth"), "left_anti")
            .unionByName(snap)
          activeDim = Some(CdcEngine.materializeDim(folded))
          activeDimChanged()
          val ms = snap.select(col("yearMonth").cast("int")).distinct()
            .as[Int].collect().toSet
          activeDimMonths = activeDimMonths.map(_ ++ ms)
          dimDeltaMonthsAcc ++= ms
          dimVersion = head.epoch
        case None =>
          // no dimlog head: materialize the (deduped) seed to a local
          // relation ONCE — activeDim is otherwise a lazy plan whose dedup
          // window and seed scan would re-execute at every use (the
          // effective-dim build, every dim-update fold)
          activeDim = Some(CdcEngine.materializeDim(activeDim.get))
          activeDimChanged()
      }
    }
    // only after a SUCCESSFUL rebuild: a transient failure above (executor
    // loss mid-collect) must leave the flag unset so the next call retries,
    // not pin the session to the stale seed with retro-correction disabled
    dimInited = true
  }

  /** Exactly-once fast path + collision pre-flight, shared by `applyEpoch`
    * and `applyEpochs`.
    *
    * Fast path: an epoch ALL tables already committed is skipped without
    * paying the fold — a checkpoint restart (foreachBatch redelivers the
    * batch in flight at the crash; batch drivers re-run whole epoch ranges,
    * see `committedThrough`) costs one manifest stat per replayed epoch,
    * not a Spark job. Returns Some(transfers manifest) for the skip. A
    * half-committed epoch (crash between the concurrent commits) returns
    * None: the deterministic fold re-runs and the skip-if-present commits
    * heal the lagging side.
    *
    * Pre-flight: the epoch id is validated against EVERY table's manifest
    * chain BEFORE any commit future launches. Without this, a maintenance
    * commit squatting on `epoch` in (say) the transfers chain only throws
    * inside its own commit future — AFTER the concurrent state appendNew
    * may have durably committed the batch's events under the contested id.
    * A retry under a corrected (different) id then re-stamps the batch,
    * dedup resolves every commit to the already-durable earlier-epoch copy,
    * `fresh` comes back empty, and the sessions' transfer rows are silently
    * never written. Aborting here — before the fold, before either sink —
    * keeps the failed epoch side-effect-free, so the caller may retry under
    * the SAME or a new id.
    *
    * CONTRACT: the epoch id must determine the batch content (streaming
    * checkpoints own their batchId numbering — see StreamingIngest), and
    * maintenance/rebucket/flush epochs share this number space, so ingest
    * and maintenance ids must be disjoint. Dim-update VERSIONS do not —
    * they live on the dimlog's own chain (see applyDimUpdate), which is
    * what keeps a post-abort dim refresh from wedging dense ingest ids.
    */
  private def preflight(epoch: Long): Option[Manifest] = {
    (transfers.manifestAt(epoch), state.manifestAt(epoch),
        enriched.map(_.manifestAt(epoch))) match {
      case (Some(t), Some(st), e) if e.forall(_.isDefined) =>
        val kinds = Seq(Some(t), Some(st), e.flatten).flatten.map(_.kind)
        require(kinds.forall(_ == "write"),
          s"epoch $epoch already used by a '${kinds.find(_ != "write").get}' " +
            "maintenance commit — ingest and maintenance epoch ids must be disjoint")
        return Some(t)
      case _ => ()
    }
    (Seq(transfers -> "transfers", state -> "state") ++
        enriched.map(_ -> "enriched")).foreach { case (tbl, name) =>
      tbl.manifestAt(epoch) match {
        case Some(m) =>
          require(m.kind == "write",
            s"epoch $epoch of $name is already a '${m.kind}' maintenance commit — " +
              "ingest and maintenance epoch ids must be disjoint (aborting before " +
              "any table commits)")
        case None =>
          // Head-ordering pre-flight: a commit future would throw its
          // "not after parent" require only AFTER sibling futures may have
          // committed — e.g. a dim-update parked at a high id on the
          // enriched chain would let every later source-numbered ingest
          // epoch commit state+transfers, then fail enriched, with NO heal
          // (same id: still below head; new id: fresh comes back empty and
          // the rows are never written). Abort side-effect-free instead:
          // a table with no manifest at this epoch must be able to APPEND
          // it, i.e. its head must be below the id.
          tbl.latestManifest().foreach { h =>
            require(h.epoch < epoch,
              s"epoch $epoch of $name is below the chain head ${h.epoch} — " +
                "ingest epoch ids must stay above every table's head " +
                "(aborting before any table commits)")
          }
      }
    }
    None
  }

  /** Apply one epoch of change events. Returns the transfers-table manifest.
    *
    * Per-epoch cost is O(batch + batch sessions' history): prior state is
    * bucket-pruned, then SEMI-JOINED to the batch's repos when it dwarfs the
    * batch, so at steady state only sessions the batch actually touches flow
    * through the single bucket-keyed fold (CdcPipeline.foldPartition), which
    * emits both the classified transfers AND the fresh state events. Both
    * sinks are O(batch) writes — appendNew for state, mergeDelta
    * (merge-on-read) for transfers — so bucket-mate sessions untouched by
    * the batch are neither re-classified nor re-written.
    */
  def applyEpoch(spark: SparkSession, rawEvents: Dataset[ChangeEvent], epoch: Long): Manifest = {
    preflight(epoch) match {
      case Some(t) => return t
      case None    => ()
    }
    val f = foldEpoch(spark, rawEvents, epoch, stateAsOf = Long.MaxValue,
      pendingFresh = None)
    try commitEpoch(spark, f)
    finally {
      f.out.unpersist()
      spark.sparkContext.setJobDescription(null) // don't leak the tag to caller jobs
    }
  }

  /** Apply a strictly-increasing sequence of (epoch, batch) pairs with
    * DEPTH-1 PIPELINING: while epoch e's commits (parquet + manifest I/O)
    * run in the background, epoch e+1's fold (batch stats, prior-state
    * assembly, the sessionize/classify shuffle, the epoch summary) is
    * already computing on the driver thread — per-epoch wall-clock
    * approaches max(fold, commits) instead of fold + commits, which is the
    * fixed-cost term that erodes N→4N scaling at small per-epoch batches.
    *
    * Semantics are identical to calling `applyEpoch` in order:
    *  - epoch e+1's prior state is snapshot(head before e's commit) ∪ e's
    *    cached fold output — by construction exactly the row set e's
    *    `appendNew` is making durable (see `foldEpoch`); the fold input,
    *    and therefore every output row, matches the sequential run;
    *  - e's commits are AWAITED before e+1's commits launch, so each
    *    manifest chain stays gap-free and parent-ordered; a crash leaves at
    *    most one epoch half-committed — the same healing story, asserted by
    *    the same replay-identity tests;
    *  - already-committed epochs skip via the same fast path (the pipeline
    *    flushes first), so resume drivers can hand the full epoch range.
    *
    * Returns the last applied/skipped transfers manifest.
    */
  def applyEpochs(spark: SparkSession,
                  batches: Seq[(Long, Dataset[ChangeEvent])]): Option[Manifest] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    require(batches.map(_._1) == batches.map(_._1).sorted.distinct,
      "applyEpochs requires strictly increasing epoch ids")
    var last: Option[Manifest] = None
    var inFlight: Option[(CdcEngine.FoldResult, Future[Manifest])] = None
    var headBefore = -1L // state head BEFORE the in-flight commit
    def flush(): Unit = inFlight.foreach { case (pf, fut) =>
      try last = Some(Await.result(fut, Duration.Inf))
      finally { pf.out.unpersist(); inFlight = None }
    }
    try {
      batches.foreach { case (epoch, batch) =>
        preflight(epoch) match {
          case Some(t) => flush(); last = Some(t)
          case None =>
            val (asOf, pending) = inFlight match {
              case Some((pf, _)) => (headBefore, Some(pf))
              case None          => (Long.MaxValue, None)
            }
            // overlaps with the in-flight commit — the whole point
            val f = foldEpoch(spark, batch, epoch, stateAsOf = asOf,
              pendingFresh = pending)
            // previous commits become durable before ours launch; if THEY
            // failed, release this epoch's just-materialized cache too (it
            // is not in inFlight yet, so the outer finally can't see it)
            try flush()
            catch { case t: Throwable => f.out.unpersist(); throw t }
            headBefore = state.latestManifest().map(_.epoch).getOrElse(-1L)
            inFlight = Some((f, Future { commitEpoch(spark, f) }))
        }
      }
      flush()
      last
    } finally {
      // error path: never leave a commit future dangling or a cache pinned
      inFlight.foreach { case (pf, fut) =>
        try Await.result(fut, Duration.Inf)
        catch { case _: Throwable => () }
        pf.out.unpersist()
      }
      spark.sparkContext.setJobDescription(null)
    }
  }

  /** The epoch's COMPUTE phase: batch stats, prior-state assembly, the fused
    * sessionize/classify fold (cached + materialized by the summary job),
    * and the shared epoch summary. No table is written.
    *
    * `stateAsOf` + `pendingFresh` exist for the pipelined driver: when the
    * PREVIOUS epoch's commits are still in flight, its manifest is not yet
    * readable, but its fold output is — so prior state is assembled as
    * snapshot(asOf = head before the in-flight commit) ∪ pending fresh
    * events, which is by construction exactly the row set the in-flight
    * `appendNew` is making durable (assumeNew appends precisely
    * `freshEvents`; data files are immutable and never deleted, so the
    * as-of read cannot race the concurrent commit). Non-pipelined callers
    * pass (Long.MaxValue, None) — read the latest durable snapshot.
    */
  private def foldEpoch(spark: SparkSession, rawEvents: Dataset[ChangeEvent],
                        epoch: Long, stateAsOf: Long,
                        pendingFresh: Option[CdcEngine.FoldResult]): CdcEngine.FoldResult = {
    import spark.implicits._
    // rebuild the active dim/months from the durable dimlog before the
    // first epoch of a restarted engine (no-op afterwards) — the strict
    // gate and the enriched commit both read them
    ensureDimState()
    // Re-stamp the batch with THIS epoch. Freshness (which events the fold
    // persists to the durable state table) must mean "first applied in this
    // epoch", not "stamped with this epoch by the source": a streaming
    // foreachBatch delivers micro-batches whose boundaries don't align with
    // the source's epoch stamps, and without re-stamping a misaligned
    // batch's events would be classified but silently dropped from state —
    // the next epoch touching the same session would re-classify from
    // incomplete state and overwrite correct rows.
    // (withColumn, not .map(_.copy(...)): the narrow projection stays in
    // Tungsten; the typed map would deserialize the whole batch per action.)
    val newEvents = rawEvents.withColumn("epoch", lit(epoch)).as[ChangeEvent]

    // job descriptions are thread-local — tag each of the epoch's jobs so
    // the Spark UI and perfbench's trace (`--trace 1`) attribute wall-clock
    // to a pipeline stage instead of an anonymous closure (the commit
    // futures tag their own threads below)
    def desc(d: String): Unit =
      spark.sparkContext.setJobDescription(s"cdc epoch $epoch: $d")

    // narrow pre-pass: batch stats + touched buckets (partial-agg only;
    // state and transfers hash the same repo column → shared touched set)
    desc("batch stats + touched buckets")
    val stats = newEvents.toDF()
      .agg(
        count(lit(1)), coalesce(min("offset"), lit(0L)), coalesce(max("offset"), lit(0L)),
        collect_set(state.bucketCol))
      .collect()(0)
    val batchRows = stats.getLong(0)
    val touched = stats.getSeq[Int](3).toSet

    val priorSnapshot = state.snapshot(spark, asOf = stateAsOf, buckets = Some(touched))
    // pending (not-yet-durable) fresh events from the in-flight previous
    // epoch, pruned to this batch's buckets like the snapshot read
    val pendingPart = pendingFresh
      .filter(p => p.touched.exists(touched)) // skip when bucket-disjoint
      .map(_.freshEvents.where(state.bucketCol.isin(touched.toSeq: _*)))
    val parsedType = org.apache.spark.sql.Encoders.product[SpineMessage].schema
    val nullS = lit(null).cast("string")
    // Prior rows enter the fold as ApplyEvent. When the state table carries
    // the parsed message (every table this binary creates), `content` is a
    // NULL LITERAL here — the dominant column of the table is pruned at the
    // parquet scan and never crosses the sessionize shuffle, and the fold
    // reuses the stored parse. Tables born before the parsed column (their
    // oldest files physically lack it) keep the legacy content+parse path.
    def asApplyRows(df: DataFrame, hasParsed: Boolean): DataFrame =
      if (hasParsed)
        df.select(col("repo"), nullS.as("path"), col("commit"), nullS.as("lang"),
          lit(null).cast("string").as("content"), col("offset"), nullS.as("op"),
          col("tsMicros"), col("epoch"), col("parsed"))
      else
        df.select(col("repo"), nullS.as("path"), col("commit"), nullS.as("lang"),
          col("content"), col("offset"), nullS.as("op"),
          col("tsMicros"), col("epoch"), lit(null).cast(parsedType).as("parsed"))
    // a warehouse born with stored parses must keep writing them — a
    // flag-off engine would append parsed=null rows and a later parsed-path
    // read would find neither payload form
    require(storeParsedState || !stateBornWithParsed,
      "state table was created with storeParsedState=true — the flag must " +
        "stay on for this warehouse")
    val snapshotHasParsed = storeParsedState &&
      priorSnapshot.columns.contains("parsed") && stateBornWithParsed
    val priorRaw: Option[DataFrame] =
      ((if (priorSnapshot.columns.isEmpty) None
        else Some(asApplyRows(priorSnapshot, snapshotHasParsed))).toSeq ++
        pendingPart.map(asApplyRows(_, hasParsed = storeParsedState)).toSeq)
        .reduceOption(_.unionByName(_))
    // Semi-join gate: manifest row counts (free — no Spark job) tell how
    // much prior state the touched buckets hold. When prior dwarfs the batch
    // (steady incremental state at scale), a semi-join on the batch's repos
    // bounds the fold to O(batch sessions' history) — only sessions present
    // in this batch re-classify; AQE broadcasts the distinct batch keys when
    // small. When prior ≈ batch (bulk loads, backfills), the extra distinct
    // + join shuffles cost more than they save — fold everything.
    val priorTouchedRows = state.manifestAsOf(stateAsOf)
      .map(_.files.filter(f => touched.contains(f.bucket)).map(_.rows).sum)
      .getOrElse(0L) +
      pendingFresh.map(_.eventStats.collect {
        case (b, s) if touched(b) => s.rows }.sum).getOrElse(0L)
    // Factor 4.0: forcing the semi-join at prior ≈ batch cuts fold-shuffle
    // bytes ~2.5× but costs more wall per epoch (4 epochs × ~112k events:
    // 4.3/2.9/2.9 s → 6.2/4.3/6.0 s, OPTIMIZATION_r07.md §9; re-measure
    // per phase with perfbench's `--trace 1`)
    // — the distinct-repos build + join passes outweigh shipping prior rows
    // to the fold's cheap emit-on-change exit until prior is several times
    // the batch.
    val semiJoinFactor = 4.0
    val semiJoinWins = priorTouchedRows > semiJoinFactor * math.max(batchRows, 1L)
    // Prior-state events are folded but never RE-persisted (only fresh,
    // current-epoch events reach the state sink) — path/lang/op are null
    // LITERALS in asApplyRows (and content too on the parsed path), so
    // parquet never reads those columns and the steady state's majority
    // shuffle rows carry the compact parsed struct instead of raw content.
    // Batch events keep full fields; the dedup keeps whichever copy wins,
    // and a prior-copy win is by definition not fresh, so nulls never
    // reach durable state.
    val priorEvents: Dataset[ApplyEvent] = priorRaw match {
      case None => spark.emptyDataset[ApplyEvent]
      case Some(raw0) =>
        val pruned =
          if (semiJoinWins)
            raw0.join(newEvents.select("repo").distinct(), Seq("repo"), "left_semi")
          else raw0
        pruned.as[ApplyEvent]
    }
    val newApply = CdcPipeline.toApplyEvents(newEvents)

    // locals only in the closure — capturing the fields would serialize the
    // whole (non-serializable) engine
    val cutoff = cutoffMicros
    val keepParsed = storeParsedState
    // cached: Datasets do NOT reuse shuffle files across separate actions,
    // so without the cache each sink re-runs the union+shuffle+fold
    // (measured 2.3× slower than materializing the fold output once)
    // ONE exchange per epoch: shuffle by the table bucket key (sessions stay
    // whole — bucket = f(repo)), sort-within by repo, fold consecutive runs.
    // Every commit then inherits this physical partitioning through the
    // cache (all projections in between are narrow) and writes with no
    // repartition of its own. Placement is exactly 1:1 bucket→partition
    // (see partitionProbes).
    val nb = state.currentNumBuckets
    val folded = priorEvents.union(newApply).toDF()
      .repartition(nb, element_at(
        typedLit(CdcPipeline.partitionProbes(nb)), state.bucketCol + lit(1)))
      .sortWithinPartitions("repo")
      .as[ApplyEvent]
      .mapPartitions(it => CdcPipeline.foldPartition(it, cutoff, epoch, keepParsed))
    // cached COLUMNAR (DataFrame of two top-level structs), and the sink
    // projections below stay columnar too: InMemoryRelation prunes whole
    // top-level columns, so the transfers commit never reads the cached
    // `event` bytes (content strings — the dominant bytes) and the state
    // commit never reads `transfer`. The previous typed projections
    // (.filter(_.transfer.isDefined).map(_.transfer.get)) deserialized the
    // ENTIRE row per sink — 15.4 GB of cache reads per 8.3M-event epoch,
    // the memory-bandwidth term the scaling profile flagged at 4N cores.
    val out = folded.toDF().cache()
    try {
      val upserts = CdcPipeline.withRowSha(
        out.where(col("transfer").isNotNull).select(col("transfer.*")))
      val freshRaw = out.where(col("event").isNotNull).select(col("event.*"))
      val freshEvents = (if (storeParsedState) freshRaw else freshRaw.drop("parsed"))
        .withColumn("content_sha256", sha2(col("content"), 256))

      // ONE summary job over the cached fold output: per-bucket row counts
      // for BOTH table commits plus the observability counter sums —
      // replaces three separate aggregation jobs per epoch (per-epoch
      // barriers are the fixed cost that dominates small batches)
      val ymExpr = {
        val ts = timestamp_micros(col("transfer.dateRequestedMicros"))
        (year(ts) * 100 + month(ts)).cast("int")
      }
      val missingDimFlag: org.apache.spark.sql.Column = activeDimMonths match {
        case Some(ms) =>
          val prevYm = when(pmod(ymExpr, lit(100)) === 1, ymExpr - 89)
            .otherwise(ymExpr - 1)
          val missing =
            if (ms.isEmpty) col("transfer").isNotNull
            else col("transfer").isNotNull &&
              !ymExpr.isin(ms.toSeq: _*) && !prevYm.isin(ms.toSeq: _*)
          missing.cast("long")
        case None => lit(0L)
      }
      desc("fold + epoch summary")
      val summary = out.select(
          coalesce(col("transfer.repo"), col("event.repo")).as("repo"),
          col("event").isNotNull.cast("long").as("isE"),
          col("transfer").isNotNull.cast("long").as("isT"),
          coalesce(col("transfer.danglingAcks"), lit(0L)).as("da"),
          coalesce(col("transfer.unknownPurpose"), lit(0L)).as("up"),
          coalesce(col("transfer.negativeSla"), lit(0L)).as("ns"),
          coalesce(col("transfer.duplicatesDropped"), lit(0L)).as("dd"),
          missingDimFlag.as("md"))
        .withColumn("__bucket", state.bucketCol) // both tables bucket on repo
        .groupBy("__bucket").agg(
          sum("isE").as("e"), sum("isT").as("t"),
          sum("da").as("da"), sum("up").as("up"),
          sum("ns").as("ns"), sum("dd").as("dd"), sum("md").as("md"),
          // per-bucket repo bounds per sink — the manifests' record-level
          // pruning index (repo is the first key column of both tables)
          min(when(col("isE") === 1L, col("repo"))).as("emn"),
          max(when(col("isE") === 1L, col("repo"))).as("emx"),
          min(when(col("isT") === 1L, col("repo"))).as("tmn"),
          max(when(col("isT") === 1L, col("repo"))).as("tmx"))
        .collect()
      val eventStats = summary.filter(_.getLong(1) > 0).map(r =>
        r.getInt(0) -> graft.lake.BucketStats(r.getLong(1),
          Option(r.getString(8)), Option(r.getString(9)))).toMap
      val transferStats = summary.filter(_.getLong(2) > 0).map(r =>
        r.getInt(0) -> graft.lake.BucketStats(r.getLong(2),
          Option(r.getString(10)), Option(r.getString(11)))).toMap
      def total(i: Int): Long = summary.map(_.getLong(i)).sum

      // strict-dim fail-fast: the reference RAISES OdsMetadataNotFound when
      // a transfer's request month and its previous month both lack a dim
      // snapshot (organisation_metadata_monthly.py:26-34). The summary job
      // runs BEFORE any commit future launches, so this abort is
      // side-effect-free — refresh the dim (applyDimUpdate) and retry the
      // same epoch id.
      if (strictDimMonths && total(7) > 0)
        throw new IllegalStateException(
          s"OdsMetadataNotFound: epoch $epoch has ${total(7)} transfer(s) whose " +
            "request month AND previous month both lack a dim snapshot " +
            s"(declared months: ${activeDimMonths.map(_.toSeq.sorted.mkString(",")).getOrElse("")}) — " +
            "strictDimMonths aborted the epoch before any table committed")

      val lineage = Map(
        "epoch" -> epoch,
        "batchRows" -> batchRows,
        "minOffset" -> stats.getLong(1),
        "maxOffset" -> stats.getLong(2),
      )
      // metadata-key parity with the reference's per-file S3 metadata
      // (spine_runner.py:39-47): start/end-datetime in the reference's ISO
      // "+00:00" rendering, ods-metadata-month without zero padding
      val meta = Map(
        "cutoff-days" -> (cutoffMicros / (24L * 3600 * 1000000L)).toString,
        "build-tag" -> "graft-cdc-v1",
      ) ++ window.map(w => Map(
        "start-datetime" -> CdcEngine.isoUtc(w.startMicros),
        "end-datetime" -> CdcEngine.isoUtc(w.endMicros),
      )).getOrElse(Map.empty) ++ odsMetadataMonth.map(ym =>
        "ods-metadata-month" -> s"${ym / 100}-${ym % 100}")

      // observability parity with the reference's log probes: dangling-ack /
      // unknown-purpose / negative-SLA counts land in manifest lineage
      val tLineage = lineage ++ Map(
        "danglingAcks" -> total(3), "unknownPurpose" -> total(4),
        "negativeSla" -> total(5), "duplicatesDropped" -> total(6)) ++
        // only when the caller declared its dim coverage (see dimMonths)
        activeDimMonths.map(_ => "missingDimMonthTransfers" -> total(7))

      CdcEngine.FoldResult(epoch, out, upserts, freshEvents, touched, nb, eventStats,
        transferStats, meta, lineage, tLineage)
    } catch {
      case t: Throwable =>
        out.unpersist()
        throw t
    }
  }

  /** The epoch's COMMIT phase: the two-to-three table commits, launched
    * concurrently (separate manifest chains, all consuming the CACHED fold
    * output) and awaited — per-epoch latency is max(commit), not
    * sum(commit), which at small batches is dominated by write fixed costs.
    * Crash/failure of either side leaves at most one table committed;
    * re-running the epoch heals it in either order: each commit is
    * skip-if-present and the fold is deterministic, so the lagging side
    * recomputes identically (asserted both ways in CdcEngineSpec).
    */
  private def commitEpoch(spark: SparkSession, f: CdcEngine.FoldResult): Manifest = {
    val epoch = f.epoch
    def desc(d: String): Unit =
      spark.sparkContext.setJobDescription(s"cdc epoch $epoch: $d")
    // every sink frame is a narrow projection of the fold output, which sits
    // one bucket per partition under the state layout's bucket count; a
    // table rebucketed out of band to another count takes the lake's
    // unaligned path instead
    val transferAligned = Some(BucketAligned(f.numBuckets, f.transferStats))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val stateF = Future {
      desc("state commit (appendNew)")
      // assumeNew: the fold already guarantees first-seen-only events
      state.appendNew(f.freshEvents, epoch, metadata = f.meta, lineage = f.lineage,
        assumeNew = true, compactInline = inlineCompaction,
        aligned = Some(BucketAligned(f.numBuckets, f.eventStats)))
    }
    val transfersF = Future {
      desc("transfers commit (mergeDelta)")
      transfers.mergeDelta(f.upserts, epoch, metadata = f.meta, lineage = f.tLineage,
        compactInline = inlineCompaction, aligned = transferAligned)
    }
    val enrichedF = enriched.map { tbl =>
      Future {
        desc("enriched commit (mergeDelta)")
        // enrich ONLY the epoch's upserts (O(batch); two lookups per row in
        // the broadcast effective dim — no dim job, no shuffle of the upsert
        // side). Every enriched commit stamps the dim version it enriched
        // with — the durable watermark that makes pending retro-corrections
        // derivable after a restart.
        val meta = f.meta + (CdcEngine.DimVersionKey -> dimVersion.toString)
        val base = Enrichment.enrichWith(f.upserts, effectiveDim)
        // a pending dim refresh adds the retro-correction of the committed
        // rows it affects (minus this epoch's own upserts — already freshly
        // enriched) to THIS commit; nonEmptyPending resolves to the cached
        // non-empty retro frame + count, or None
        val pending = pendingReEnrich(spark, asOf = epoch - 1,
          excludeRepos = Some(f.upserts.select("repo")))
        val nonEmptyPending = pending.flatMap { re =>
          val c = re.cache() // shared by the count and the merge write
          val n = c.count()
          if (n > 0) Some((c, n)) else { c.unpersist(); None }
        }
        nonEmptyPending match {
          case None =>
            // fast path (every epoch without pending retro work): the same
            // rows per bucket as the transfers commit
            tbl.mergeDelta(base, epoch, metadata = meta, lineage = f.tLineage,
              compactInline = inlineCompaction, aligned = transferAligned)
          case Some((c, n)) =>
            // retro rows change the per-bucket row set — the commit takes
            // its own stats
            try tbl.mergeDelta(base.unionByName(c), epoch,
              metadata = meta, lineage = f.tLineage + ("reEnriched" -> n),
              compactInline = inlineCompaction)
            finally c.unpersist()
        }
      }
    }
    Await.result(stateF, scala.concurrent.duration.Duration.Inf)
    val tManifest = Await.result(transfersF, scala.concurrent.duration.Duration.Inf)
    enrichedF.foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
    tManifest
  }

  /** Resume point for a batch driver: the highest epoch BOTH tables have
    * committed, or None on a fresh warehouse. A restarted job replays
    * `(committedThrough.getOrElse(-1L) + 1) to lastEpoch` — and because
    * `applyEpoch` is a fast no-op on fully-committed epochs and heals
    * half-committed ones, replaying from 0 is also always safe, just
    * slower. (Streaming restarts don't need this: the query checkpoint
    * replays the exact in-flight batchId.)
    */
  def committedThrough(): Option[Long] = {
    val heads = Seq(Some(transfers), Some(state), enriched).flatten
      .map(_.latestManifest())
    if (heads.exists(_.isEmpty)) None else Some(heads.flatten.map(_.epoch).min)
  }

  /** Apply a dimension-snapshot delta (new or changed (asid, yearMonth)
    * rows, `Enrichment.OrgDimRow` shape) as version `version` of the
    * DURABLE dim change log:
    *
    *  1. the delta ROWS are committed to the `dimlog` table — its own
    *     manifest chain, so version ids never share the ingest epoch number
    *     space. This is what lets a strictDimMonths abort heal: refresh the
    *     dim at any version, then retry the SAME ingest epoch id (the
    *     enriched chain's head never moved). It also makes the active dim
    *     durable: a restarted engine rebuilds seed ⊕ dimlog from the chain
    *     alone (`ensureDimState`), no caller replay of the dim feed;
    *  2. the delta folds into the active dim (last-writer-wins on
    *     (asid, yearMonth), materialized to bound plan depth), so every
    *     subsequent epoch enriches with the refreshed metadata — the
    *     reference's per-run metadata reload (`transfer_classifier.py:
    *     171-193`) made incremental;
    *  3. the retro-correction of ALREADY-committed enriched rows rides the
    *     NEXT ingest epoch's enriched commit (or an explicit
    *     `flushDimUpdates`): that commit re-enriches exactly the rows the
    *     pending deltas can affect — a snapshot at month m changes the
    *     as-of resolution only of transfers requested in m or m+1 (the
    *     ONE-month fallback window) whose requesting or sending asid is in
    *     the delta — and stamps its manifest with the dim version it
    *     incorporates, which is what makes the pending set derivable after
    *     a restart (`pendingReEnrich`).
    *
    * Replaying an already-committed version returns the existing manifest
    * without touching the active dim — UNLESS this session's dim provably
    * predates it (`version > dimVersion`: the commit landed but the fold
    * crashed before the version advanced), in which case the COMMITTED
    * rows are read back from the dimlog and folded. Folding the caller's
    * file on replay would be wrong twice over: an OLD version's rows would
    * overwrite newer dim rows for overlapping keys (durably corrupting
    * subsequent enrichment, since the watermark still reports the newer
    * version), and a CHANGED delta supplied under a committed version id
    * would leak unpersisted rows into the session. Returns the dimlog
    * manifest of `version`.
    */
  def applyDimUpdate(spark: SparkSession, dimDelta: DataFrame, version: Long): Manifest = {
    val dl = dimlog.getOrElse(throw new IllegalStateException(
      "engine was built without a dim — no enriched table to re-enrich"))
    ensureDimState()
    import spark.implicits._
    val base = activeDim.get
    val delta = dimDelta.select(base.columns.map(col).toIndexedSeq: _*)

    // VALIDATE the version id before ANY state mutates — an abort must
    // leave the engine exactly as it was
    dl.manifestAt(version) match {
      case Some(m) =>
        require(m.kind == "dim-update",
          s"version $version of the dimlog is already a '${m.kind}' commit")
        // replay of a committed version: the delta is already durable.
        // Fold ONLY when this session's dim predates it (commit landed,
        // fold crashed before dimVersion advanced) — and fold the
        // COMMITTED rows read back from the chain, not the caller's file,
        // so a stale-version rerun can't overwrite newer dim rows and a
        // changed file can't leak unpersisted rows (see docstring)
        if (version > dimVersion) {
          val committed = dl.changesSince(spark, version - 1, asOf = version)
            .select(base.columns.map(col).toIndexedSeq: _*)
          foldDeltaIntoActive(committed)
          dimVersion = version
        }
        return m
      case None =>
        dl.latestManifest().foreach { h =>
          require(h.epoch < version,
            s"dim version $version is below the dimlog head ${h.epoch} — " +
              "versions must stay monotonic (aborting before any change)")
        }
    }
    val keyed = delta.cache()
    try {
      val n = keyed.count()
      // one row per (asid, yearMonth) per delta: the mergeDelta contract —
      // two versions of a key in ONE delta would resolve nondeterministically
      require(keyed.select("asid", "yearMonth").distinct().count() == n,
        "dim delta must carry one row per (asid, yearMonth)")
      val m = dl.mergeDelta(keyed, version,
        metadata = Map("dim-delta-rows" -> n.toString),
        lineage = Map("deltaRows" -> n), kind = "dim-update")
      // fold into the active dim only after the delta is durable
      foldDeltaIntoActive(keyed)
      dimVersion = version
      m
    } finally keyed.unpersist()
  }

  /** Fold a (column-conformed) delta into the active dim — last-writer-wins
    * on (asid, yearMonth), materialized to keep plan depth flat — and
    * extend the strict/lineage month coverage with the delta's months (so a
    * strictDimMonths abort heals by refreshing the dim and retrying the
    * same ingest epoch id). Idempotent: re-folding the same delta is a
    * no-op by construction.
    */
  private def foldDeltaIntoActive(delta: DataFrame): Unit = {
    val spark = delta.sparkSession
    import spark.implicits._
    activeDim = Some(CdcEngine.materializeDim(
      activeDim.get.join(delta.select("asid", "yearMonth").distinct(),
          Seq("asid", "yearMonth"), "left_anti")
        .unionByName(delta)))
    activeDimChanged()
    val ms = delta.select(col("yearMonth").cast("int")).distinct()
      .as[Int].collect().toSet
    activeDimMonths = activeDimMonths.map(_ ++ ms)
    dimDeltaMonthsAcc ++= ms
  }

  /** Retro-correction rows pending from dim versions newer than the
    * enriched table's recorded `dim-version`: the already-committed
    * transfers (snapshot as of `asOf`) the pending deltas can affect,
    * re-enriched with the active dim, minus `excludeRepos` (keys the
    * caller is upserting this epoch anyway — their fresh upsert already
    * enriches with the current dim). None = no version is pending. The
    * (asid × month) filter pushes to the parquet scan over compacted
    * (single-file) buckets — the steady state (plan-asserted); buckets
    * still holding unresolved deltas filter after last-writer-wins
    * resolution, since a key's asid may change across versions.
    * Re-enriching a row whose resolution did NOT change merely rewrites an
    * identical version — the superset filter is safe.
    */
  private[cdc] def pendingReEnrich(spark: SparkSession, asOf: Long,
                                   excludeRepos: Option[DataFrame]): Option[DataFrame] = {
    import spark.implicits._
    val tbl = enriched.get
    val v0 = tbl.latestManifest()
      .flatMap(_.metadata.get(CdcEngine.DimVersionKey)).map(_.toLong)
      .getOrElse(-1L)
    if (dimVersion <= v0) return None
    val deltas = dimlog.get.changesSince(spark, v0)
    // the dim is broadcast-small by contract → bounded driver-side collects
    val asids = deltas.select("asid").distinct().as[String].collect().toSet
    if (asids.isEmpty) return None
    val yms = deltas.select(col("yearMonth").cast("int")).distinct()
      .as[Int].collect().toSet
    def nextM(ym: Int): Int = if (ym % 100 == 12) ym + 89 else ym + 1
    val affectedMonths = yms.flatMap(ym => Set(ym, nextM(ym))) // fallback reach
    // WHOLE-MONTH fallback semantics (organisation_metadata_monthly.py:
    // 26-34): a delta that INTRODUCES a previously-absent month changes
    // resolution for EVERY asid of the request months that month serves —
    // qm = m (was prev-month-or-null, now m) and qm = m+1 when m+1 itself
    // has no snapshot (was null, now falls back to m). Those months'
    // transfers are re-enriched wholesale, not asid-scoped. Presence at
    // the watermark = seed months ∪ dimlog rows committed ≤ v0 (both
    // broadcast-small reads).
    val monthsAtV0: Set[Int] = {
      val old = dimlog.get.snapshot(spark, asOf = v0)
      if (old.columns.isEmpty) seedDimMonths
      else seedDimMonths ++ old.select(col("yearMonth").cast("int")).distinct()
        .as[Int].collect().toSet
    }
    val introduced = yms.filterNot(monthsAtV0)
    val monthWide = introduced ++ introduced.map(nextM).filterNot(monthsAtV0)
    val t = transfers.snapshot(spark, asOf = asOf)
    if (t.columns.isEmpty) return None
    val ymCol = (year(timestamp_micros(col("dateRequestedMicros"))) * 100 +
      month(timestamp_micros(col("dateRequestedMicros")))).cast("int")
    val asidScoped =
      (col("requestingPracticeAsid").isin(asids.toSeq: _*) ||
        col("sendingPracticeAsid").isin(asids.toSeq: _*)) &&
        ymCol.isin(affectedMonths.toSeq: _*)
    val affected = t.filter(
      if (monthWide.isEmpty) asidScoped
      else asidScoped || ymCol.isin(monthWide.toSeq: _*))
    val kept = excludeRepos.fold(affected)(ex =>
      affected.join(ex.distinct(), Seq("repo"), "left_anti"))
    Some(Enrichment.enrichWith(kept, effectiveDim))
  }

  /** Commit the pending retro-correction on the enriched chain NOW, as its
    * own `kind="dim-update"` epoch — for a dim refresh with no subsequent
    * ingest epoch to ride (e.g. an end-of-feed correction). UNLIKE
    * `applyDimUpdate`'s version ids, `epoch` lands on the enriched (ingest)
    * chain and therefore shares the ingest number space: like `maintain`,
    * the caller must keep it disjoint from ingest ids and below every
    * future ingest id. Returns the number of re-enriched rows (0 = nothing
    * pending or affected; no commit).
    */
  def flushDimUpdates(spark: SparkSession, epoch: Long): Long = {
    val tbl = enriched.getOrElse(throw new IllegalStateException(
      "engine was built without a dim — no enriched table to re-enrich"))
    ensureDimState()
    tbl.manifestAt(epoch) match {
      case Some(m) =>
        require(m.kind == "dim-update",
          s"epoch $epoch of enriched is already a '${m.kind}' commit — " +
            "flush epoch ids must be disjoint from ingest/maintenance ids")
        return m.lineage.getOrElse("reEnriched", 0L)
      case None =>
        tbl.latestManifest().foreach { h =>
          require(h.epoch < epoch,
            s"flush epoch $epoch is below the enriched chain head ${h.epoch} — " +
              "epoch ids must stay monotonic per table (aborting before any change)")
        }
    }
    // NOTE: an all-miss flush (n == 0) deliberately commits nothing, so the
    // watermark does not advance and a later flush re-scans the (tiny)
    // dimlog pending set — any subsequent ingest epoch's enriched commit
    // advances it. Inline compaction follows the engine's configuration;
    // beware that a far-parked flush epoch id also moves the
    // changeRetention horizon forward (schedule flush ids like maintenance
    // ids, near the ingest numbering).
    pendingReEnrich(spark, asOf = epoch - 1, excludeRepos = None) match {
      case None => 0L
      case Some(re) =>
        val c = re.cache() // shared by the count and the merge write
        try {
          val n = c.count()
          if (n > 0)
            tbl.mergeDelta(c, epoch,
              metadata = Map(CdcEngine.DimVersionKey -> dimVersion.toString),
              lineage = Map("reEnriched" -> n), kind = "dim-update",
              compactInline = inlineCompaction)
          n
        } finally c.unpersist()
    }
  }

  /** Grow both tables' bucket counts (one epoch number each, state first) —
    * run when the table outgrows its bucket granularity so epoch applies
    * keep touching a small fraction of the data.
    */
  def rebucket(spark: SparkSession, newNumBuckets: Int, epoch: Long): Unit = {
    state.rebucket(spark, newNumBuckets, epoch)
    transfers.rebucket(spark, newNumBuckets, epoch)
    enriched.foreach(_.rebucket(spark, newNumBuckets, epoch))
  }

  /** Maintenance between ingest epochs: compact both tables' over-threshold
    * buckets as their own commit epoch (same number on both chains, like
    * applyEpoch). Pair with `inlineCompaction = false` so ingest epochs
    * never pay the rewrite; a no-op (no commit) on a table with nothing
    * over threshold. MUST be interleaved with applies, never run in
    * parallel with one — each table is single-writer (see LakeTable.compact).
    */
  def maintain(spark: SparkSession, epoch: Long): Unit = {
    state.compact(spark, epoch)
    transfers.compact(spark, epoch)
    enriched.foreach(_.compact(spark, epoch))
  }

  /** Resolved snapshot of the incrementally-maintained transfers table
    * (last-writer-wins per repo, internal bucket column hidden).
    */
  def currentTransfers(spark: SparkSession): DataFrame =
    LakeTable.readSnapshot(transfers, spark)

  /** Resolved snapshot of the incrementally-maintained enriched output
    * (requires the engine to have been built with a `dim`).
    */
  def currentEnriched(spark: SparkSession): DataFrame =
    LakeTable.readSnapshot(enriched.getOrElse(throw new IllegalStateException(
      "engine was built without a dim — no enriched table")), spark)
}

object CdcEngine {
  /** Manifest-metadata key on every enriched commit: the dim version the
    * commit enriched with — the durable watermark `pendingReEnrich` diffs
    * against the dimlog head to find retro-corrections still owed.
    */
  val DimVersionKey: String = "dim-version"

  /** Collect a (broadcast-small by contract) dim to local rows and rebuild
    * it as a local-relation DataFrame — bounds the active dim's plan
    * lineage at depth 1 no matter how many update folds have been applied
    * (each fold otherwise wraps the previous dim in another
    * anti-join ∪ union, deepening the broadcast plan unboundedly).
    */
  def materializeDim(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Everything a committed epoch needs, computed by `foldEpoch` BEFORE any
    * sink is touched: the cached fold output, the per-sink frames, the
    * shared summary stats and the manifest metadata/lineage. Splitting the
    * epoch at this seam (compute | commit I/O) is what lets `applyEpochs`
    * overlap epoch e's commits with epoch e+1's fold. (Companion-scoped:
    * an inner case class would capture the engine's outer reference.)
    */
  private[cdc] final case class FoldResult(
      epoch: Long,
      out: DataFrame,
      upserts: DataFrame,
      freshEvents: DataFrame,
      touched: Set[Int],
      /** The bucket count the fold partitioned `out` by, one bucket per
        * partition (the state table's live count). */
      numBuckets: Int,
      eventStats: Map[Int, graft.lake.BucketStats],
      transferStats: Map[Int, graft.lake.BucketStats],
      meta: Map[String, String],
      lineage: Map[String, Long],
      tLineage: Map[String, Long],
  )

  /** The reference's datetime-string rendering for commit metadata: ISO with
    * an explicit "+00:00" offset (python isoformat of a UTC-aware datetime,
    * `utils/date_converter.py`). Python `isoformat()` renders a fractional
    * part only when microseconds are nonzero — reproduced here so a
    * non-midnight-aligned reporting window stamps identically.
    */
  def isoUtc(micros: Long): String = {
    val secs = Math.floorDiv(micros, 1000000L)
    val frac = Math.floorMod(micros, 1000000L)
    val base = java.time.LocalDateTime.ofEpochSecond(secs, 0, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
    (if (frac == 0L) base else base + f".$frac%06d") + "+00:00"
  }
}
