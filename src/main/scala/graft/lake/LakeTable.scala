package graft.lake

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{BucketWritePlan, BucketWriter}
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Commit manifest — the unit of exactly-once. One JSON file per epoch,
  * written atomically (tmp + rename); the newest contiguous manifest defines
  * the table. Reproduces (from scratch — no Iceberg jar in this environment)
  * the snapshot/manifest/schema-id/metadata model the north_star asks for,
  * and the reference's per-file user metadata (`cutoff-days`, `build-tag`,
  * `start/end-datetime` — `pipeline/spine_runner.py:39-54`,
  * `utils/input_output/s3.py:74-109`) as commit metadata.
  */
final case class FileEntry(
    path: String,      // relative to table root
    bucket: Int,
    rows: Long,
    epochAdded: Long,
    /** Min/max of the FIRST key column over this file set (string-keyed
      * tables only; None otherwise or for pre-bounds manifests), in
      * UTF8String binary order — the order the writers sort by and readers
      * prune with: record-level pruning WITHIN a bucket, so point lookups
      * and merge-on-read resolution open only the files whose key range can
      * contain the probe. Safe to prune with, never to prove membership.
      */
    min0: Option[String] = None,
    max0: Option[String] = None,
    /** Leaf parquet data files of this entry's directory, with exact byte
      * sizes — reported by the write tasks that wrote them (no listing), so
      * reads plan from the manifest alone: `ManifestFileIndex` hands Spark
      * the exact (path, size) set and no listing/stat round-trips happen
      * per query — on an object store at
      * production scale, the per-query LIST calls are the metadata
      * bottleneck this removes (the Iceberg/Delta planning shape). Every
      * read needs them: an entry without leaves fails the read.
      */
    leaves: Seq[LeafFile] = Seq.empty,
)

/** One leaf parquet file: name relative to its FileEntry dir + exact size. */
final case class LeafFile(name: String, bytes: Long)

/** A commit input that is already partitioned one bucket per partition
  * under a `numBuckets`-bucket layout of the table's bucket hash, and the
  * buckets that hold its rows.
  */
final case class BucketAligned(numBuckets: Int, buckets: Set[Int])

final case class Manifest(
    epoch: Long,
    parentEpoch: Long, // -1 for first
    schemaId: Int,
    schemaJson: String,
    keyColumns: Seq[String],
    numBuckets: Int,
    files: Seq[FileEntry],   // the COMPLETE live set (snapshot-style)
    metadata: Map[String, String],
    lineage: Map[String, Long], // e.g. minOffset/maxOffset/upsertRows/totalRows
    /** What produced this epoch: "write" (mergeDelta), "compact", or
      * "rebucket". Epoch ids are one shared number space per table, so
      * the skip-if-present guards use this to turn an id
      * COLLISION (an ingest epoch reusing a maintenance id, or vice versa)
      * into a loud error instead of a silent lost write. Absent in
      * pre-field manifests → renormalized to "write".
      */
    kind: String = "write",
)

/** A key-bucketed, merge-on-read lake table over plain Parquet + JSON
  * manifests, with one write path: `mergeDelta` upserts write only the
  * upsert rows, and reads keep the newest version of each key.
  *
  * Scale design (the part that must survive 100 TB / 1000 executors):
  *  - data is hash-bucketed on the merge key into `numBuckets` buckets
  *    (thousands on a real cluster); a commit writes only the rows of the
  *    buckets its batch touches — commit cost is O(batch), not O(table);
  *  - a commit whose input is already partitioned one bucket per partition
  *    under the table's live layout (`BucketAligned`, as the engine's fold
  *    delivers it) writes with no shuffle; any other input pays one count
  *    query, whose per-bucket counts fix the touched buckets and the salt,
  *    and `repartition(touched buckets × salt, bucket, salt)`, so a hot
  *    bucket spreads over several tasks (SURVEY.md §4 skew row);
  *  - every commit is one write job (`BucketWriter`): tasks write the
  *    bucket files and report them, the driver links the manifest — the
  *    task-writer/driver-commit split of Iceberg and Delta. A bucket the
  *    commit pushes over its compaction threshold is compacted by the task
  *    that writes its new rows, in the same job;
  *  - readers prune by bucket (and by manifest row counts) without listing
  *    the filesystem: the manifest is the only metadata round-trip;
  *  - merge-on-read resolution is bucket-local: every file belongs to one
  *    bucket, so one task reads all of a bucket's files and keeps the
  *    newest version of each key (`ManifestRead.bucketLocal`) — snapshots,
  *    lookups, compaction and rebucketing resolve with no exchange;
  *  - schema evolution: each manifest carries a schemaId + schema JSON;
  *    upserts with new nullable columns bump the schemaId and old files are
  *    read through the merged schema (Parquet by-name resolution fills
  *    missing columns with null) — no rewrite of untouched buckets;
  *  - exactly-once: writing epoch N twice is a no-op (manifest N already
  *    present ⇒ skip), and a crash between data write and manifest rename
  *    leaves invisible orphans only.
  */
final class LakeTable(
    val root: String,
    val numBuckets: Int,
    val keyColumns: Seq[String],
    /** Columns the bucket hash uses — a prefix of (or equal to) the merge
      * identity; e.g. the sessions-state table merges on (repo, commit) but
      * buckets on repo so an epoch apply prunes to the touched repos' buckets.
      */
    val bucketColumns: Seq[String] = Seq.empty,
    /** Max live files per bucket before a commit compacts that bucket. The
      * EFFECTIVE threshold is jittered per bucket (threshold + bucket mod
      * threshold, i.e. in [threshold, 2·threshold)): without jitter every
      * bucket crosses the line in the SAME epoch and that commit pays a
      * full-table rewrite spike; jitter spreads compactions across epochs
      * deterministically (replay-stable).
      */
    val compactThreshold: Int = 8,
    /** Change-stream retention horizon, in epochs: compaction (inline or via
      * `compact()`) leaves files added within the last `changeRetention`
      * epochs untouched, so a `changesSince` consumer lagging by at most this
      * many epochs still sees every intermediate row version. Older versions
      * are resolved away by compaction (the change stream truncates to the
      * latest surviving version per key beyond the horizon) — the standard
      * lake-format trade; 0 = compact everything eligible.
      */
    val changeRetention: Int = 0,
) {
  require(numBuckets >= 1, s"numBuckets must be at least 1, got $numBuckets")
  require(keyColumns.nonEmpty, "keyColumns must name at least one column")
  require(keyColumns.startsWith(bucketColumns),
    s"bucketColumns $bucketColumns must be a prefix of keyColumns $keyColumns")
  require(compactThreshold >= 1, s"compactThreshold must be at least 1, got $compactThreshold")
  require(changeRetention >= 0, s"changeRetention must not be negative, got $changeRetention")
  private val bucketCols: Seq[String] = if (bucketColumns.nonEmpty) bucketColumns else keyColumns
  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)

  private def manifestDir: Path = Paths.get(root, "manifests")
  private def manifestPath(epoch: Long): Path = manifestDir.resolve(f"m$epoch%012d.json")

  /** Directory listing that CLOSES the stream (Files.list leaks an fd per
    * call otherwise — one engine commits two tables per micro-batch, so a
    * long-running streaming ingest would exhaust the limit).
    */
  private def listNames(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toVector
    finally s.close()
  }

  private def committedEpochs(): Seq[Long] =
    if (!Files.isDirectory(manifestDir)) Seq.empty
    else listNames(manifestDir)
      .collect { case s if s.startsWith("m") && s.endsWith(".json") =>
        s.stripPrefix("m").stripSuffix(".json").toLong }

  def latestManifest(): Option[Manifest] = {
    val epochs = committedEpochs()
    if (epochs.isEmpty) None else manifestAt(epochs.max)
  }

  def manifestAt(epoch: Long): Option[Manifest] = {
    val p = manifestPath(epoch)
    if (!Files.exists(p)) None
    else {
      val m = mapper.readValue(Files.readAllBytes(p), classOf[Manifest])
      // Jackson erases Map[String, Long] values to Integer for small
      // numbers; renormalize so callers can unbox lineage counters. Pre-
      // bounds manifests (and absent Option fields generally) deserialize
      // to null, not None — renormalize those too.
      Some(m.copy(
        lineage = m.lineage.asInstanceOf[Map[String, Any]]
          .map { case (k, v) => k -> v.asInstanceOf[Number].longValue },
        files = m.files.map(f => f.copy(
          min0 = if (f.min0 == null) None else f.min0,
          max0 = if (f.max0 == null) None else f.max0,
          leaves = if (f.leaves == null) Seq.empty else f.leaves)),
        kind = if (m.kind == null) "write" else m.kind))
    }
  }

  /** Time travel: newest manifest with epoch ≤ asOf. */
  def manifestAsOf(asOf: Long): Option[Manifest] = {
    val epochs = committedEpochs().filter(_ <= asOf)
    if (epochs.isEmpty) None else manifestAt(epochs.max)
  }

  /** Skip-if-present resolution: the already-committed manifest at `epoch`,
    * REQUIRED to be of the kind this caller would have written. Epoch ids
    * are one number space per table; a mismatch means an ingest id collided
    * with a maintenance id (or vice versa) — silently "skipping" would lose
    * the caller's write, so it throws instead.
    */
  private def committedAs(epoch: Long, expected: String): Manifest = {
    val m = manifestAt(epoch).get
    if (m.kind != expected)
      throw new IllegalStateException(
        s"epoch $epoch of $root is already a '${m.kind}' commit, not '$expected' — " +
          "ingest and maintenance epoch ids must be disjoint")
    m
  }

  /** The LIVE bucket count — manifests record it per epoch, so `rebucket`
    * can grow it as the table grows (bucket granularity must scale with
    * data for touched-fraction pruning to keep working).
    */
  def currentNumBuckets: Int = latestManifest().map(_.numBuckets).getOrElse(numBuckets)

  /** The bucket id of a row under a layout of `n` buckets. */
  def bucketCol(n: Int): Column =
    pmod(xxhash64(bucketCols.map(col): _*), lit(n)).cast("int")

  /** Salt for the commit shuffle: spreads one bucket's rows over several
    * tasks when a mega-key makes a bucket hot (north-star skew handling).
    * Hashes the FULL key so salted sub-partitions stay deterministic.
    */
  val saltFactor: Int = 4
  private def saltColFor(s: Int): Column =
    if (s <= 1) lit(0)
    else pmod(xxhash64((keyColumns.map(col) :+ lit("salt")): _*), lit(s)).cast("int")

  /** Salt rows-per-task threshold: a bucket smaller than this fits one
    * write task comfortably, so salting it only multiplies the file count
    * and the per-file fixed costs (open/footer/compressor init) — the term
    * that dominates small incremental epochs and erodes N→4N scaling.
    */
  private val saltRowsPerTask = 131072L

  /** Adaptive salt from a commit's per-bucket row counts: full
    * `saltFactor` only when a bucket is big enough to need spreading.
    */
  private def effectiveSalt(counts: Map[Int, Long]): Int =
    math.max(1L, math.min(saltFactor.toLong,
      (counts.values.maxOption.getOrElse(0L) + saltRowsPerTask - 1) / saltRowsPerTask)).toInt

  /** File-level key-bounds check with Spark's own string comparator
    * (UTF8String binary order — what min/max on StringType produced):
    * can this file contain first-key-column value `v`? Missing bounds ⇒ yes.
    */
  private def mayContain(f: FileEntry, v: String): Boolean =
    f.min0.forall(LakeTable.utf8Order.lteq(_, v)) && f.max0.forall(LakeTable.utf8Order.gteq(_, v))

  /** Current snapshot as a DataFrame (bucket-pruned when `buckets` given).
    * Resolves last-writer-wins per key, but ONLY in buckets holding >1 live
    * file, and bucket-locally: one task reads all of such a bucket's files
    * and keeps each key's newest version, with no exchange
    * (`ManifestRead.bucketLocal`). Freshly-compacted /
    * single-commit buckets read straight through. Predicates on key columns
    * push below the resolution into the parquet readers; any other
    * predicate applies to the resolved rows. The result reports no
    * partitioning. `key0` prunes by the per-file first-key-column bounds on
    * top of bucket pruning (point reads open only the files whose range can
    * hold the key).
    *
    * key0 CONTRACT: the result is only correct for rows whose first key
    * column EQUALS key0 — every file that can hold a version of key0
    * survives pruning, but OTHER keys may resolve stale (their winning
    * version can live in a pruned file). Callers must filter to key0
    * downstream, as `lookup` does.
    */
  def snapshot(spark: SparkSession, asOf: Long = Long.MaxValue,
               buckets: Option[Set[Int]] = None,
               key0: Option[String] = None): DataFrame = {
    manifestAsOf(asOf) match {
      case None => spark.emptyDataFrame
      case Some(m) =>
        val schema = schemaOf(m)
        val bucketLive = buckets.fold(m.files)(bs => m.files.filter(f => bs.contains(f.bucket)))
        val live = key0.fold(bucketLive)(v => bucketLive.filter(f => mayContain(f, v)))
        if (live.isEmpty) spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        else {
          val withEpoch = withEpochCol(schema)
          val (single, multi) = byBucket(live).partition(_.size == 1)
          Seq(
            if (single.isEmpty) None else Some(readEntries(spark, single.flatten, withEpoch)),
            if (multi.isEmpty) None else Some(bucketLocal(spark, multi, withEpoch)),
          ).flatten.reduce(_.unionByName(_)).drop("__epoch")
        }
    }
  }

  private def withEpochCol(schema: StructType): StructType =
    schema.add(StructField("__epoch", LongType, nullable = true))

  /** Live entries grouped by bucket, in bucket order; within a bucket in
    * manifest (commit) order. */
  private def byBucket(fs: Seq[FileEntry]): Seq[Seq[FileEntry]] =
    fs.groupBy(_.bucket).toSeq.sortBy(_._1).map(_._2)

  /** Per-bucket compaction threshold in [compactThreshold, 2·compactThreshold). */
  private def effectiveThreshold(bucket: Int): Int =
    compactThreshold + (bucket % compactThreshold)

  /** ONE aggregation job: the row count of every bucket `df` touches. */
  private def bucketCounts(df: DataFrame): Map[Int, Long] =
    df.groupBy("__bucket").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Absolute (path, size) of every leaf file of `fs`. Reads plan from
    * these alone; an entry without leaves fails loudly. */
  private def leafFiles(fs: Seq[FileEntry]): Seq[(String, Long)] = fs.flatMap { f =>
    if (f.leaves.isEmpty)
      throw new IllegalStateException(
        s"manifest entry ${f.path} of $root records no leaf files — reads plan " +
          "from the manifest's leaf list alone")
    f.leaves.map(l => (s"$root/${f.path}/${l.name}", l.bytes))
  }

  /** Parquet read of a manifest file-entry set, manifest-planned (zero
    * listing — `ManifestFileIndex` over exact (path, size) pairs).
    */
  private def readEntries(spark: SparkSession, fs: Seq[FileEntry],
                          schema: StructType): DataFrame =
    org.apache.spark.sql.graftbridge.ManifestRead.parquet(spark, leafFiles(fs), schema)

  /** The bucket-local read: each bucket is read whole by one task, which
    * resolves last-writer-wins by `__epoch`. `schema` must carry `__epoch`.
    */
  private def bucketLocal(spark: SparkSession, buckets: Seq[Seq[FileEntry]],
                          schema: StructType): DataFrame =
    org.apache.spark.sql.graftbridge.ManifestRead.bucketLocal(spark,
      buckets.map(leafFiles), schema, keyColumns, "__epoch")

  /** The live files of each bucket that a commit at `epoch` may compact:
    * those older than the `changeRetention` horizon. */
  private def compactable(files: Seq[FileEntry], epoch: Long): Map[Int, Seq[FileEntry]] =
    files.filter(_.epochAdded <= epoch - changeRetention).groupBy(_.bucket)

  /** The buckets a commit at `epoch` that writes new rows into `touched`
    * pushes over their threshold. Its own new file counts only when no
    * retention horizon keeps it out of compaction.
    */
  private def overfull(files: Seq[FileEntry], touched: Set[Int], epoch: Long): Set[Int] = {
    val old = compactable(files, epoch)
    (old.keySet ++ touched).filter { b =>
      old.getOrElse(b, Nil).size + (if (changeRetention == 0 && touched(b)) 1 else 0) >
        effectiveThreshold(b)
    }
  }

  /** The one write of every commit, in one job (`BucketWriter`): `rows` —
    * the table's columns, with `__epoch` unless `stamp` gives it, then
    * `__bucket` — land under `dirRel`, one file set per bucket. With
    * `compact`, each bucket the commit pushes over its threshold
    * (`overfull`) has its compactable files resolved into one file set
    * under `dirRel` + "c", with per-row `__epoch` preserved: by the task
    * that writes its new rows, which merges them in as the newest leaf
    * (so the commit writes no delta file for it) when that task holds all
    * of them (`oneTaskPerBucket`) and no retention horizon keeps them out;
    * by a task of its own over the old files otherwise. The manifest
    * entries come from the files the tasks report: exact row counts and
    * first-key bounds. Returns the complete new live file set.
    */
  private def writeCommit(spark: SparkSession, rows: Option[DataFrame], stamp: Option[Long],
                          schema: StructType, files: Seq[FileEntry], touched: Set[Int],
                          oneTaskPerBucket: Boolean, epoch: Long, compact: Boolean,
                          dirRel: String): Seq[FileEntry] = {
    val over = if (compact) overfull(files, touched, epoch) else Set.empty[Int]
    val merged = if (changeRetention == 0 && oneTaskPerBucket) over & touched else Set.empty[Int]
    val old = compactable(files, epoch)
    def leaves(bs: Set[Int]) = bs.map(b => b -> leafFiles(old(b))).toMap
    val written = BucketWriter.write(spark, rows, stamp, BucketWritePlan(root,
      withEpochCol(schema), keyColumns, dirRel, dirRel + "c", leaves(merged), leaves(over -- merged)))
    val added = written.groupBy(w => (w.dir, w.bucket)).toSeq.sortBy(_._1).map {
      case ((dir, b), ws) =>
        FileEntry(s"$dir/__bucket=$b", b, ws.map(_.rows).sum, epoch,
          ws.flatMap(_.first).minOption(LakeTable.utf8Order),
          ws.flatMap(_.last).maxOption(LakeTable.utf8Order),
          ws.sortBy(_.name).map(w => LeafFile(w.name, w.bytes)))
    }
    (files.filterNot(f => over(f.bucket) && f.epochAdded <= epoch - changeRetention) ++ added)
      .sortBy(_.bucket)
  }

  /** Standalone maintenance compaction, committed as its OWN epoch — run it
    * BETWEEN ingest commits so those never pay the compaction rewrite
    * inline and epoch latency stays flat. No-op (returns the parent
    * manifest WITHOUT committing) when no bucket is over threshold.
    * Exactly-once like every commit.
    *
    * SINGLE-WRITER contract (same as every commit on this table): do not
    * run compact() truly concurrently with another commit — two committers
    * of DIFFERENT epochs would both extend the chain from the same parent,
    * and whichever lands second re-lists the first's superseded files.
    * "Off the ingest path" means interleaved between applies (or in the
    * scheduler slot applies otherwise idle in), not parallel with one.
    */
  def compact(spark: SparkSession, epoch: Long): Manifest =
    publish(epoch, "compact") { parent =>
      val p = parent.getOrElse(
        throw new IllegalStateException("compact requires an existing table"))
      if (overfull(p.files, Set.empty, epoch).isEmpty) None
      else Some(Staged(
        writeCommit(spark, None, None, schemaOf(p), p.files, Set.empty, oneTaskPerBucket = true,
          epoch, compact = true, f"data/e$epoch%012d"),
        p.schemaId, p.schemaJson, p.numBuckets, p.metadata, Map("compaction" -> 1L)))
    }

  private def schemaOf(m: Manifest): StructType =
    DataType.fromJson(m.schemaJson).asInstanceOf[StructType]

  /** A commit's outcome before it is published: the complete new live file
    * set and the manifest fields the commit sets.
    */
  private case class Staged(files: Seq[FileEntry], schemaId: Int, schemaJson: String,
                            numBuckets: Int, metadata: Map[String, String],
                            lineage: Map[String, Long])

  /** The one publish step of every commit. An epoch already committed
    * returns its manifest, which must be of `kind` (`committedAs`);
    * otherwise the epoch must come after the parent (the latest manifest,
    * read once here). `stage` then writes the commit's data against the
    * parent and returns what to publish — None means there is nothing to
    * commit, and the parent is returned unpublished — and the manifest,
    * with its `totalRows` lineage, is linked atomically. Re-committing an
    * epoch is therefore a no-op, and a crash before the manifest link
    * leaves only invisible orphan data files.
    */
  private def publish(epoch: Long, kind: String)(
      stage: Option[Manifest] => Option[Staged]): Manifest = {
    if (Files.exists(manifestPath(epoch)))
      return committedAs(epoch, kind)
    val parent = latestManifest()
    require(parent.forall(_.epoch < epoch), s"epoch $epoch not after ${parent.map(_.epoch)}")
    stage(parent) match {
      case None => parent.get
      case Some(s) =>
        val manifest = Manifest(
          epoch = epoch,
          parentEpoch = parent.map(_.epoch).getOrElse(-1L),
          schemaId = s.schemaId,
          schemaJson = s.schemaJson,
          keyColumns = keyColumns,
          numBuckets = s.numBuckets,
          files = s.files,
          metadata = s.metadata,
          // totalRows is PHYSICAL rows (superseded versions included until
          // compaction)
          lineage = s.lineage ++ Map("totalRows" -> s.files.map(_.rows).sum),
          kind = kind,
        )
        writeManifestAtomically(manifest)
        manifest
    }
  }

  /** Schema evolution: merged = parent schema ∪ upsert schema (by name);
    * new columns land nullable, schemaId bumps iff the schema changed. A
    * name shared with the table must keep the table's type: an upsert
    * column that merely UP-CASTS (int→long, float→double, non-null→null)
    * is accepted and cast by `conformTo`; anything else throws HERE — the
    * old behavior selected the mismatched column as-is, writing parquet
    * whose physical type contradicted the manifest schema, and the
    * corruption only surfaced at some later read far from its cause.
    */
  private def evolveSchema(parent: Option[Manifest],
                           upsertSchema: StructType): (StructType, Int) = {
    val mergedSchema = parent match {
      case None => upsertSchema
      case Some(p) =>
        val old = schemaOf(p)
        val widened = old.fields.map { f =>
          upsertSchema.fields.find(_.name == f.name) match {
            case Some(u)
                // same structural type, different nullability flags: Spark's
                // file sources force READ-BACK schemas fully nullable
                // (asNullable in planning), so a read-rewrite upsert (dim
                // re-enrichment, future row-level maintenance) legitimately
                // claims more nullability than storage. Widening the stored
                // type is safe — every existing file reads correctly under
                // the more-nullable schema — while narrowing never happens.
                if u.dataType != f.dataType &&
                  org.apache.spark.sql.graftbridge.GraftBridge
                    .sameTypeIgnoreNullability(u.dataType, f.dataType) =>
              f.copy(dataType = org.apache.spark.sql.graftbridge.GraftBridge
                .asNullable(f.dataType))
            case Some(u) =>
              require(u.dataType == f.dataType ||
                  org.apache.spark.sql.catalyst.expressions.Cast
                    .canUpCast(u.dataType, f.dataType),
                s"column '${f.name}': upsert type ${u.dataType.simpleString} cannot " +
                  s"evolve table type ${f.dataType.simpleString} — stored column " +
                  "types are fixed; only upcast-compatible upserts are accepted")
              f
            case None => f
          }
        }
        val extra = upsertSchema.fields.filter(f => !old.fieldNames.contains(f.name))
        StructType(widened ++ extra.map(f => StructField(f.name, f.dataType, nullable = true)))
    }
    val schemaId = parent match {
      case Some(p) if p.schemaJson == mergedSchema.json => p.schemaId
      case Some(p)                                      => p.schemaId + 1
      case None                                         => 1
    }
    (mergedSchema, schemaId)
  }

  private def conformTo(schema: StructType)(df: DataFrame): DataFrame =
    df.select(schema.fields.toIndexedSeq.map { f =>
      if (!df.columns.contains(f.name)) lit(null).cast(f.dataType).as(f.name)
      else if (df.schema(f.name).dataType == f.dataType) col(f.name)
      // evolveSchema guaranteed this is an upcast — align the physical type
      // with the manifest schema before writing
      else col(f.name).cast(f.dataType).as(f.name)
    }: _*)

  /** Merge-on-read upsert: writes ONLY the upsert rows as a per-epoch delta
    * (one file set per touched bucket); existing rows with the same key stay
    * in older files and lose at read time to the higher `__epoch` stamp
    * (bucket-local resolution in `snapshot`). Write amplification is
    * O(upserts) even when hot buckets are touched every epoch, at the cost
    * of a read-side resolution that stays bounded: any bucket exceeding
    * `compactThreshold` live files is compacted back to a single file set
    * inside the committing job (`writeCommit`). New nullable upsert columns
    * evolve the schema (`evolveSchema`); exactly-once and crash atomicity
    * come from `publish`.
    *
    * Against the parent manifest `publish` read, each row is stamped with
    * its `__bucket` under the parent's bucket count and, by the write task,
    * its `__epoch` (the row-level commit stamp: it survives compaction, so
    * resolution and `changesSince` stay exact). `aligned` input under the
    * parent's bucket count is written as it stands. Any other input pays
    * one query for its per-bucket row counts — their keys are the touched
    * buckets and their largest count sets the salt — and is repartitioned
    * by (bucket, salt).
    *
    * REQUIRES one row per key per commit (the classify fold emits exactly
    * that): two versions of a key in ONE batch share an `__epoch` stamp,
    * and resolution would break the tie by read order — nondeterministic
    * across replays.
    */
  def mergeDelta(upserts: DataFrame, epoch: Long,
                 metadata: Map[String, String] = Map.empty,
                 lineage: Map[String, Long] = Map.empty,
                 /** false ⇒ skip inline compaction; the caller runs
                   * `compact()` as its own maintenance epochs so ingest
                   * commit latency stays flat.
                   */
                 compactInline: Boolean = true,
                 /** `upserts` is already partitioned one bucket per
                   * partition (the engine's fold shuffle keys on the bucket
                   * hash, and every projection after it is narrow), with
                   * rows in exactly these buckets. Used only when its
                   * bucket count is the table's live one: the commit then
                   * writes with no shuffle and no count query. Correctness
                   * does not depend on the partitioning (the manifest lists
                   * every file the tasks write, and resolution keeps each
                   * key's newest version); a wrong one only multiplies
                   * files.
                   */
                 aligned: Option[BucketAligned] = None,
                 /** Manifest kind of this commit. Non-"write" callers (e.g.
                   * the engine's dim-update re-enrichment) stamp their own
                   * kind so an ingest epoch colliding with their id fails
                   * loudly instead of silently skipping (see committedAs).
                   */
                 kind: String = "write"): Manifest =
    publish(epoch, kind) { parent =>
      val nb = parent.fold(numBuckets)(_.numBuckets)
      val (schema, schemaId) = evolveSchema(parent, upserts.schema)
      val rows = conformTo(schema)(upserts).withColumn("__bucket", bucketCol(nb))
      // a bucket with zero rows gets no file and no entry
      val (input, touched, oneTaskPerBucket) = aligned.filter(_.numBuckets == nb) match {
        case Some(a) => (rows, a.buckets, true)
        case None =>
          val counts = bucketCounts(rows)
          val salt = effectiveSalt(counts)
          (rows.repartition(math.max(1, math.min(nb, counts.size)) * salt,
            col("__bucket"), saltColFor(salt)), counts.keySet, salt == 1)
      }
      Some(Staged(
        writeCommit(upserts.sparkSession, Some(input).filter(_ => touched.nonEmpty), Some(epoch),
          schema, parent.fold(Seq.empty[FileEntry])(_.files), touched, oneTaskPerBucket, epoch,
          compactInline, f"data/e$epoch%012d"),
        schemaId, schema.json, nb, metadata, lineage))
    }

  /** Point lookup — the O(one bucket) read primitive a CDC-maintained table
    * serves: the bucket id is computed DRIVER-SIDE by evaluating the same
    * Catalyst hash expression the writers use, so the read opens only that
    * bucket's files (manifest-pruned, no listing; within the bucket the
    * per-file key bounds prune further) and the key equality pushes into the
    * parquet scan, where the within-bucket key sort gives row-group min/max
    * pruning. A multi-file bucket resolves bucket-locally, in the one task
    * that reads it (see `snapshot`). `key` must bind every bucket column
    * (extra key columns just filter). The bucket id
    * targets the AS-OF manifest's bucket count, so time travel across a
    * rebucket resolves against the layout that was live then; each probe
    * value is cast to the table schema's column type before hashing (a
    * Scala Int probed at a LongType column would otherwise hash differently
    * and silently return empty).
    */
  def lookup(spark: SparkSession, key: Map[String, Any],
             asOf: Long = Long.MaxValue): DataFrame = {
    require(bucketCols.forall(key.contains),
      s"lookup must bind all bucket columns $bucketCols, got ${key.keySet}")
    manifestAsOf(asOf) match {
      case None => spark.emptyDataFrame
      case Some(m) =>
        val schema = schemaOf(m)
        val key0 = keyColumns.headOption
          .filter(k0 => key.contains(k0) &&
            schema(k0).dataType == org.apache.spark.sql.types.StringType)
          .map(k0 => key(k0).toString)
        key.foldLeft(snapshot(spark, asOf, buckets = Some(Set(bucketOf(m, schema, key))),
            key0 = key0)) {
          case (df, (k, v)) => df.filter(col(k) === lit(v))
        }
    }
  }

  /** Multi-key point read for a table keyed and bucketed by ONE column: the
    * rows of `values` as of `asOf`. Like `lookup`, it opens only the buckets
    * the values hash to (computed driver-side), pushes the key IN-list into
    * the parquet readers and resolves bucket-locally — the incremental
    * export reads the changed keys' prior rows this way.
    */
  def lookupAll(spark: SparkSession, values: Seq[Any],
                asOf: Long = Long.MaxValue): DataFrame = {
    require(keyColumns.size == 1 && bucketCols == keyColumns,
      s"lookupAll needs one key column that is also the bucket column: $keyColumns")
    val k = keyColumns.head
    manifestAsOf(asOf) match {
      case None => spark.emptyDataFrame
      case Some(m) =>
        val schema = schemaOf(m)
        val buckets = values.map(v => bucketOf(m, schema, Map(k -> v))).toSet
        snapshot(spark, asOf, buckets = Some(buckets)).filter(col(k).isin(values: _*))
    }
  }

  /** The bucket `key` hashes to in manifest `m`'s layout, by evaluating the
    * writers' Catalyst hash on the driver, each value cast to its column's
    * type first. */
  private def bucketOf(m: Manifest, schema: StructType, key: Map[String, Any]): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Pmod, XxHash64}
    val hash = XxHash64(bucketCols.map { c =>
      Cast(Literal(key(c)), schema(c).dataType)
    }, 42L) // functions.xxhash64 seed
    Pmod(hash, Literal(m.numBuckets.toLong)).eval().asInstanceOf[Long].toInt
  }

  /** Incremental (CDC) read: every SURVIVING row version committed in
    * `(sinceEpoch, asOf]` — the change stream a downstream consumer tails
    * instead of re-reading snapshots. File pruning first (a file written at
    * epoch e only holds rows stamped ≤ e, so `epochAdded > since` is a
    * correct superset even across compaction rewrites), then the exact
    * row-level `__epoch` filter, which parquet min/max stats also prune.
    * The result carries a `_commit_epoch` column.
    *
    * Compaction semantics: merge-on-read compaction resolves last-writer-
    * wins and physically DROPS superseded versions, so a consumer whose
    * `sinceEpoch` predates the last compaction sees only the latest
    * surviving version of each key, not every intermediate one (the
    * standard lake-format CDC trade). Set `changeRetention` > the maximum
    * consumer lag to keep intermediate versions readable. On a table with
    * no commits yet the change stream's schema is unknown — this returns a
    * zero-column empty DataFrame; gate on `latestManifest().isDefined`
    * before selecting columns.
    */
  def changesSince(spark: SparkSession, sinceEpoch: Long,
                   asOf: Long = Long.MaxValue): DataFrame = {
    manifestAsOf(asOf) match {
      case None => spark.emptyDataFrame
      case Some(m) =>
        val schema = schemaOf(m)
        val withEpoch = withEpochCol(schema)
        val candidates = m.files.filter(_.epochAdded > sinceEpoch)
        if (candidates.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(schema.fields :+ StructField("_commit_epoch", LongType)))
        else readEntries(spark, candidates, withEpoch)
          .filter(col("__epoch") > sinceEpoch && col("__epoch") <= asOf)
          .withColumnRenamed("__epoch", "_commit_epoch")
    }
  }

  /** One `_lineage`-table row: a file set written by a commit, with the
    * commit's metadata and metric counters attached (north_star: "per-
    * partition lineage and offset/row-count metrics are emitted to a
    * _lineage table").
    */
  private[lake] case class LineageRow(
      epoch: Long, parentEpoch: Long, schemaId: Int, numBuckets: Int,
      bucket: Int, path: String, rows: Long,
      min0: Option[String], max0: Option[String],
      metadata: Map[String, String], lineage: Map[String, Long])

  /** The commit history as a queryable DataFrame — one row per file set
    * WRITTEN by each commit (per-partition grain), carrying that commit's
    * metadata map and lineage counters (offsets, row counts, observability
    * counters). Built driver-side from the JSON manifests: no data files
    * are opened.
    */
  def lineageTable(spark: SparkSession): DataFrame = {
    val rows = committedEpochs().sorted.flatMap(manifestAt).flatMap { m =>
      m.files.filter(_.epochAdded == m.epoch).map(f =>
        LineageRow(m.epoch, m.parentEpoch, m.schemaId, m.numBuckets,
          f.bucket, f.path, f.rows, f.min0, f.max0, m.metadata, m.lineage))
    }
    spark.createDataFrame(rows)
  }

  /** Bucket-count evolution — the maintenance operation for growing tables:
    * pruning works because a batch touches a small FRACTION of buckets, so
    * the bucket count must grow with the data (thousands at 100 TB, not the
    * handful a small table starts with). One full rewrite committed as a
    * normal epoch (exactly-once semantics apply): the table is resolved
    * bucket-locally on the OLD layout (no exchange), then the one
    * repartition moves rows to the new bucket count, so the new layout
    * starts compact. Later commits and reads pick up the new count from the
    * manifest (`currentNumBuckets`). Point lookups hash with the AS-OF
    * manifest's bucket count, so time travel across a rebucket stays
    * correct. NOTE: the rewrite resolves regardless of `changeRetention` — a `changesSince` consumer lagging past a rebucket
    * sees only surviving versions (schedule rebuckets behind the slowest
    * consumer, like any compaction).
    */
  def rebucket(spark: SparkSession, newNumBuckets: Int, epoch: Long): Manifest =
    publish(epoch, "rebucket") { parent =>
      val p = parent.getOrElse(
        throw new IllegalStateException("rebucket requires an existing table"))
      // carry the per-row commit stamp through the rewrite: changesSince
      // and later resolution read it
      val rewritten = bucketLocal(spark, byBucket(p.files), withEpochCol(schemaOf(p)))
        .withColumn("__bucket", bucketCol(newNumBuckets))
        .repartition(newNumBuckets, col("__bucket"), saltColFor(saltFactor))
      Some(Staged(
        writeCommit(spark, Some(rewritten), None, schemaOf(p), Seq.empty, Set.empty,
          oneTaskPerBucket = false, epoch, compact = false, f"data/e$epoch%012dr"),
        p.schemaId, p.schemaJson, newNumBuckets,
        p.metadata + ("rebucketed-from" -> p.numBuckets.toString), Map.empty))
    }

  /** Publish via hard-link, not rename: POSIX rename (ATOMIC_MOVE) silently
    * REPLACES an existing target, so a racing duplicate-epoch committer
    * would overwrite the first commit — link(2) is equally atomic but fails
    * with EEXIST, making first-commit-wins real. Stale `.tmp` files from
    * crashed commits are swept first, but ONLY when old enough that no live
    * committer can still own them — two live committers of DIFFERENT epochs
    * (e.g. a maintenance compaction racing an apply) must not delete each
    * other's in-flight tmp. Concurrent committers of the SAME epoch write
    * apart (every write job names its files uniquely), and the link keeps
    * the first manifest.
    */
  private[lake] def writeManifestAtomically(m: Manifest): Unit = {
    Files.createDirectories(manifestDir)
    val sweepBefore = System.currentTimeMillis() - LakeTable.tmpSweepAgeMs
    listNames(manifestDir).filter(_.endsWith(".tmp")).foreach { stale =>
      val p = manifestDir.resolve(stale)
      val oldEnough =
        try Files.getLastModifiedTime(p).toMillis < sweepBefore
        catch { case _: java.nio.file.NoSuchFileException => false }
      if (stale != s".m${m.epoch}.json.tmp" && oldEnough)
        Files.deleteIfExists(p)
    }
    // optimistic-concurrency guard (the Iceberg commit-CAS analogue): this
    // commit's file list was built against `parentEpoch`; if ANOTHER epoch
    // landed in (parentEpoch, epoch) meanwhile, publishing ours would
    // silently resurrect files that commit compacted/rewrote away. Detect
    // and THROW instead — the caller re-reads the new head and retries.
    // Checked before AND after the link: the pre-check catches the
    // practical interleave, the post-check (with rollback of our own just-
    // published manifest) closes the list→link window.
    def conflicts(): Seq[Long] =
      committedEpochs().filter(e => e > m.parentEpoch && e < m.epoch).sorted
    val pre = conflicts()
    if (pre.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"commit of epoch ${m.epoch} was built against parent ${m.parentEpoch} " +
          s"but epochs ${pre.mkString(",")} have since committed — single " +
          "writer per table; rebuild the commit against the new head")
    val tmp = manifestDir.resolve(s".m${m.epoch}.json.tmp")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(m))
    try Files.createLink(manifestPath(m.epoch), tmp)
    catch {
      // a concurrent committer won the race for this epoch: exactly-once
      // keeps the first commit (ours is identical by determinism)
      case _: java.nio.file.FileAlreadyExistsException => ()
    } finally Files.deleteIfExists(tmp)
    val post = conflicts()
    if (post.nonEmpty) {
      Files.deleteIfExists(manifestPath(m.epoch))
      throw new java.util.ConcurrentModificationException(
        s"commit of epoch ${m.epoch} raced epochs ${post.mkString(",")} " +
          "past its parent — rolled back; rebuild against the new head")
    }
  }
}

object LakeTable {
  /** Stale-tmp sweep horizon: a crashed commit's tmp is reclaimed after this
    * age; any live commit finishes far sooner.
    */
  val tmpSweepAgeMs: Long = 15L * 60 * 1000

  /** UTF8String byte order over strings: the order Spark sorts StringType
    * keys by, so the order the per-file key bounds are written and pruned
    * with. Scala's String order (UTF-16 code units) disagrees for
    * supplementary characters, and bounds taken under it could under-cover
    * a file's range, so pruning would silently drop live rows.
    */
  val utf8Order: Ordering[String] = (a: String, b: String) =>
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
}
