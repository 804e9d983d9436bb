package graft.lake

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
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
      * tables only; None otherwise or for pre-bounds manifests). Spark's
      * min/max on StringType order by UTF8String binary comparison, and
      * readers prune with the same comparator — record-level pruning WITHIN
      * a bucket, so point lookups and merge-on-read resolution open only the
      * files whose key range can contain the probe. Bounds derived for
      * compaction rewrites (min-of-mins/max-of-maxs) are a superset of the
      * true range — safe to prune with, never to prove membership.
      */
    min0: Option[String] = None,
    max0: Option[String] = None,
    /** Leaf parquet data files of this entry's directory, with exact byte
      * sizes — recorded at commit time (ONE local listing of the
      * just-written dir, O(new files)) so reads plan from the manifest
      * alone: `ManifestFileIndex` hands Spark the exact (path, size) set and
      * no listing/stat round-trips happen per query — on an object store at
      * production scale, the per-query LIST calls are the metadata
      * bottleneck this removes (the Iceberg/Delta planning shape). Every
      * read needs them: an entry without leaves fails the read.
      */
    leaves: Seq[LeafFile] = Seq.empty,
)

/** One leaf parquet file: name relative to its FileEntry dir + exact size. */
final case class LeafFile(name: String, bytes: Long)

/** Per-bucket write statistics: exact row count + first-key-column bounds. */
final case class BucketStats(rows: Long, min0: Option[String], max0: Option[String])

/** A commit input that is already partitioned one bucket per partition
  * under a `numBuckets`-bucket layout of the table's bucket hash, with its
  * exact per-bucket stats (they become the manifest's counts and bounds).
  */
final case class BucketAligned(numBuckets: Int, stats: Map[Int, BucketStats])

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
    /** What produced this epoch: "write" (mergeDelta/appendNew),
      * "compact", or "rebucket". Epoch ids are one shared number space per
      * table, so the skip-if-present guards use this to turn an id
      * COLLISION (an ingest epoch reusing a maintenance id, or vice versa)
      * into a loud error instead of a silent lost write. Absent in
      * pre-field manifests → renormalized to "write".
      */
    kind: String = "write",
)

/** A key-bucketed lake table over plain Parquet + JSON manifests, with two
  * write paths: merge-on-read upserts (`mergeDelta`) and insert-ignore
  * appends (`appendNew`).
  *
  * Scale design (the part that must survive 100 TB / 1000 executors):
  *  - data is hash-bucketed on the merge key into `numBuckets` buckets
  *    (thousands on a real cluster); a commit writes only the rows of the
  *    buckets its batch touches — commit cost is O(batch), not O(table);
  *  - a commit whose input is already partitioned one bucket per partition
  *    under the table's live layout (`BucketAligned`, as the engine's fold
  *    delivers it) writes with no shuffle; any other input pays one stats
  *    query, whose exact per-bucket counts fix the touched buckets and the
  *    salt, and `repartition(touched buckets × salt, bucket, salt)`, so a
  *    hot bucket spreads over several tasks (SURVEY.md §4 skew row);
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
    /** Merge-on-read: `mergeDelta` commits write ONLY the upsert rows (a
      * per-epoch delta file per touched bucket) instead of copy-on-writing
      * the whole bucket; `snapshot` resolves last-writer-wins per key by the
      * per-row `__epoch` stamp, bucket-locally and only in buckets that
      * hold more than one live file. Commit cost is O(upserts), read cost is
      * bounded by `compactThreshold` (over-threshold buckets are compacted
      * back to one resolved file set inside the committing job).
      */
    val mergeOnRead: Boolean = false,
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

  /** Did the table's FIRST commit already carry `field`? A column added by
    * later schema evolution reads as null from older files, so a caller
    * that needs the column PHYSICALLY present in every live file (e.g. the
    * engine's parsed-state fast path, which prunes the fallback column
    * away) must check the birth schema, not the current one.
    */
  def bornWith(field: String): Boolean = {
    val es = committedEpochs()
    es.nonEmpty && manifestAt(es.min).exists(m => schemaOf(m).fieldNames.contains(field))
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

  def bucketCol: Column = bucketColFor(currentNumBuckets)

  private def bucketColFor(n: Int): Column =
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

  /** Adaptive salt from a commit's exact per-bucket stats (non-empty): full
    * `saltFactor` only when a bucket is big enough to need spreading.
    */
  private def effectiveSalt(stats: Map[Int, BucketStats]): Int =
    math.max(1L, math.min(saltFactor.toLong,
      (stats.values.map(_.rows).max + saltRowsPerTask - 1) / saltRowsPerTask)).toInt

  /** File-level key-bounds check with Spark's own string comparator
    * (UTF8String binary order — what min/max on StringType produced):
    * can this file contain first-key-column value `v`? Missing bounds ⇒ yes.
    */
  private def mayContain(f: FileEntry, v: String): Boolean = {
    val probe = org.apache.spark.unsafe.types.UTF8String.fromString(v)
    f.min0.forall(mn =>
      org.apache.spark.unsafe.types.UTF8String.fromString(mn).compareTo(probe) <= 0) &&
      f.max0.forall(mx =>
        org.apache.spark.unsafe.types.UTF8String.fromString(mx).compareTo(probe) >= 0)
  }

  /** Current snapshot as a DataFrame (bucket-pruned when `buckets` given).
    * Merge-on-read tables resolve last-writer-wins per key, but ONLY in
    * buckets holding >1 live file, and bucket-locally: one task reads all of
    * such a bucket's files and keeps each key's newest version, with no
    * exchange (`ManifestRead.bucketLocal`). Freshly-compacted /
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
        else if (!mergeOnRead) readEntries(spark, live, schema)
        else {
          val withEpoch = withEpochCol(schema)
          val (single, multi) = byBucket(live).partition(_.size == 1)
          Seq(
            if (single.isEmpty) None else Some(readEntries(spark, single.flatten, withEpoch)),
            if (multi.isEmpty) None else Some(bucketLocal(spark, multi, withEpoch, resolve = true)),
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

  /** ONE aggregation job: per-bucket row counts + first-key-column bounds
    * (bounds only for string-keyed tables — same job either way).
    */
  private def bucketStatsOf(df: DataFrame): Map[Int, BucketStats] = {
    val k0 = keyColumns.head
    val stringKey = df.schema.fields
      .find(_.name == k0).exists(_.dataType == org.apache.spark.sql.types.StringType)
    if (stringKey)
      df.groupBy("__bucket")
        .agg(count(lit(1)).as("n"), min(k0).as("mn"), max(k0).as("mx"))
        .collect()
        .map(r => r.getInt(0) -> BucketStats(r.getLong(1), Option(r.getString(2)),
          Option(r.getString(3)))).toMap
    else
      df.groupBy("__bucket").agg(count(lit(1)).as("n")).collect()
        .map(r => r.getInt(0) -> BucketStats(r.getLong(1), None, None)).toMap
  }

  /** Leaf parquet files of a just-written bucket dir: the one local listing
    * per commit that lets every subsequent READ skip listing entirely
    * (see FileEntry.leaves).
    */
  private def leavesOf(pathRel: String): Seq[LeafFile] = {
    val dir = Paths.get(root, pathRel)
    if (!Files.isDirectory(dir)) Seq.empty
    else listNames(dir).filter(_.endsWith(".parquet")).sorted
      .map(n => LeafFile(n, Files.size(dir.resolve(n))))
  }

  private def entriesFor(dirRel: String, epoch: Long,
                         stats: Map[Int, BucketStats]): Seq[FileEntry] =
    stats.toSeq.sortBy(_._1).map { case (b, s) =>
      val p = s"$dirRel/__bucket=$b"
      FileEntry(p, b, s.rows, epoch, s.min0, s.max0, leavesOf(p))
    }

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
    * resolves last-writer-wins by `__epoch` (`resolve`) or concatenates the
    * bucket's files. `schema` must carry `__epoch` when resolving.
    */
  private def bucketLocal(spark: SparkSession, buckets: Seq[Seq[FileEntry]],
                          schema: StructType, resolve: Boolean): DataFrame =
    org.apache.spark.sql.graftbridge.ManifestRead.bucketLocal(spark,
      buckets.map(leafFiles), schema, keyColumns,
      if (resolve) Some("__epoch") else None)

  /** The one bucket write: rows sorted within each partition by (bucket,
    * key) — the key order bucket-local resolution merges on — into one
    * directory per bucket under `dirRel`.
    */
  private def writeBuckets(df: DataFrame, dirRel: String): Unit =
    df.sortWithinPartitions((col("__bucket") +: keyColumns.map(col)): _*)
      .write.mode(SaveMode.Overwrite).option("compression", LakeTable.compression)
      .partitionBy("__bucket").parquet(s"$root/$dirRel")

  /** Rewrite each over-threshold bucket's COMPACTABLE files (older than the
    * `changeRetention` horizon) into one file set, in ONE job: a bucket-local
    * read (each bucket whole in one task) that resolves superseded key
    * versions away (merge-on-read tables) or concatenates (append-only
    * tables), written back by the same tasks — no exchange, one file per
    * bucket, per-row `__epoch` preserved. Row counts for the concat path
    * come from the manifest; the resolve path counts its rows inside the
    * write job (`Dataset.observe`). Bounds are derived min-of-mins /
    * max-of-maxs — a superset of the true range after resolution, which is
    * safe for pruning. `nb` is the layout's bucket count. Returns the
    * updated live-file list, or `files` unchanged when nothing crosses its
    * threshold.
    */
  private def compactOverfull(spark: SparkSession, files: Seq[FileEntry],
                              schema: StructType, epoch: Long, nb: Int): Seq[FileEntry] = {
    val horizon = epoch - changeRetention
    val overfull = files.groupBy(_.bucket).filter { case (b, fs) =>
      fs.count(_.epochAdded <= horizon) > effectiveThreshold(b)
    }.keySet
    if (overfull.isEmpty) return files
    val cInput = files.filter(f => overfull.contains(f.bucket) && f.epochAdded <= horizon)
    val inByBucket = cInput.groupBy(_.bucket)
    val cDirRel = f"data/e$epoch%012dc"
    val read = bucketLocal(spark, byBucket(cInput), withEpochCol(schema), mergeOnRead)
      .withColumn("__bucket", bucketColFor(nb))
    val counted = if (mergeOnRead) Some(org.apache.spark.sql.Observation()) else None
    writeBuckets(counted.fold(read) { o =>
      val perBucket = overfull.toSeq.sorted.map(b => count_if(col("__bucket") === b).as(b.toString))
      read.observe(o, perBucket.head, perBucket.tail: _*)
    }, cDirRel)
    val rowsByBucket: Map[Int, Long] = counted match {
      case Some(o) =>
        val n = o.get
        overfull.map(b => b -> n(b.toString).asInstanceOf[Long]).filter(_._2 > 0).toMap
      case None => inByBucket.map { case (b, fs) => b -> fs.map(_.rows).sum }
    }
    // Derived bounds must use the SAME comparator that wrote them and that
    // mayContain prunes with — UTF8String byte order. Scala's String
    // ordering (UTF-16 code units) disagrees for supplementary characters
    // (a 4-byte UTF-8 sequence sorts above U+E000..U+FFFF in byte order but
    // below in UTF-16), so min/max under the wrong order can UNDER-cover
    // the true range and pruning would silently drop live rows.
    val utf8Order: Ordering[String] = (a: String, b: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
    val cEntries = rowsByBucket.toSeq.sortBy(_._1).map { case (b, rows) =>
      val ins = inByBucket(b)
      // derived bounds: only when every input carries bounds
      val mn = if (ins.forall(_.min0.isDefined)) Some(ins.flatMap(_.min0).min(utf8Order)) else None
      val mx = if (ins.forall(_.max0.isDefined)) Some(ins.flatMap(_.max0).max(utf8Order)) else None
      val p = s"$cDirRel/__bucket=$b"
      FileEntry(p, b, rows, epoch, mn, mx, leavesOf(p))
    }
    (files.filterNot(cInput.contains) ++ cEntries).sortBy(_.bucket)
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
      val files = compactOverfull(spark, p.files, schemaOf(p), epoch, p.numBuckets)
      if (files eq p.files) None
      else Some(Staged(files, p.schemaId, p.schemaJson, p.numBuckets, p.metadata,
        Map("compaction" -> 1L)))
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
          // totalRows is PHYSICAL rows for a merge-on-read table (superseded
          // versions included until compaction)
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
    * inside the committing job. Only a `mergeOnRead` table resolves
    * versions at read time, so any other table refuses the call. New
    * nullable upsert columns evolve the schema (`evolveSchema`); exactly-once
    * and crash atomicity come from `publish`.
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
                   * these exact stats. Used only when its bucket count is
                   * the table's live one: the commit then writes with no
                   * shuffle and no stats query. Correctness does not depend
                   * on the partitioning (the manifest lists whatever files
                   * land under each bucket dir); a wrong one only
                   * multiplies files.
                   */
                 aligned: Option[BucketAligned] = None,
                 /** Manifest kind of this commit. Non-"write" callers (e.g.
                   * the engine's dim-update re-enrichment) stamp their own
                   * kind so an ingest epoch colliding with their id fails
                   * loudly instead of silently skipping (see committedAs).
                   */
                 kind: String = "write"): Manifest = {
    require(mergeOnRead, s"mergeDelta needs a mergeOnRead table: $root does not " +
      "resolve versions at read time, so an upserted key would stay live twice")
    write(upserts, epoch, kind, metadata, lineage, compactInline, aligned,
      insertIgnore = false)
  }

  /** Append-only commit for insert-ignore tables (e.g. the sessions-state
    * event buffer): rows whose key already exists are dropped via a
    * bucket-pruned LEFT ANTI join on the key columns only (column-pruned
    * read of prior files), and ONLY the new rows are written — untouched
    * files are carried, so write amplification is O(batch), never O(bucket).
    * Same exactly-once/atomicity rules as mergeDelta().
    */
  def appendNew(upserts: DataFrame, epoch: Long,
                metadata: Map[String, String] = Map.empty,
                lineage: Map[String, Long] = Map.empty,
                /** true ⇒ caller guarantees no key already exists (e.g. the
                  * epoch fold only emits first-seen events) — skips the
                  * prior-keys anti-join read entirely.
                  */
                assumeNew: Boolean = false,
                /** false ⇒ skip inline compaction (see mergeDelta). */
                compactInline: Boolean = true,
                /** Pre-bucket-partitioned input with exact stats — see
                  * mergeDelta. Requires `assumeNew`: the anti-join may drop
                  * rows the stats count.
                  */
                aligned: Option[BucketAligned] = None): Manifest = {
    require(aligned.isEmpty || assumeNew, "an aligned appendNew requires assumeNew")
    write(upserts, epoch, "write", metadata, lineage, compactInline, aligned,
      insertIgnore = !assumeNew)
  }

  /** The write core of `mergeDelta` and `appendNew`, run inside `publish`
    * against the parent manifest it read. Evolves the schema, stamps each
    * row's `__bucket` under the parent's bucket count and its `__epoch`
    * (the row-level commit stamp: it survives compaction, so resolution and
    * `changesSince` stay exact), and writes one file set per touched bucket.
    * `aligned` input under the parent's bucket count is written as it
    * stands, with its stats. Any other input pays one query for the exact
    * per-bucket stats of the rows to write — their keys are the touched
    * buckets, their largest count sets the salt, and they become the
    * manifest's counts — and is repartitioned by (bucket, salt). Buckets
    * over their threshold are then compacted inline, resolving exactly when
    * the table is `mergeOnRead`.
    */
  private def write(input: DataFrame, epoch: Long, kind: String,
                    metadata: Map[String, String], lineage: Map[String, Long],
                    compactInline: Boolean, aligned: Option[BucketAligned],
                    insertIgnore: Boolean): Manifest =
    publish(epoch, kind) { parent =>
      val nb = parent.fold(numBuckets)(_.numBuckets)
      val (schema, schemaId) = evolveSchema(parent, input.schema)
      val rows = conformTo(schema)(input)
        .withColumn("__bucket", bucketColFor(nb))
        .withColumn("__epoch", lit(epoch))
      val dirRel = f"data/e$epoch%012d"
      // a bucket with zero rows gets no stats, no dir and no entry
      val stats = aligned.filter(_.numBuckets == nb) match {
        case Some(a) =>
          if (a.stats.nonEmpty) writeBuckets(rows, dirRel)
          a.stats
        case None =>
          val fresh = if (insertIgnore) withoutPriorKeys(rows, parent) else rows
          val s = bucketStatsOf(fresh)
          if (s.nonEmpty) {
            val salt = effectiveSalt(s)
            writeBuckets(fresh.repartition(math.min(nb, s.size) * salt,
              col("__bucket"), saltColFor(salt)), dirRel)
          }
          s
      }
      val files = (parent.fold(Seq.empty[FileEntry])(_.files) ++
        entriesFor(dirRel, epoch, stats)).sortBy(_.bucket)
      Some(Staged(
        if (compactInline) compactOverfull(input.sparkSession, files, schema, epoch, nb)
        else files,
        schemaId, schema.json, nb, metadata, lineage))
    }

  /** Insert-ignore: `rows` minus the keys the parent already holds in the
    * buckets `rows` touches (a key-columns-only read of those buckets).
    */
  private def withoutPriorKeys(rows: DataFrame, parent: Option[Manifest]): DataFrame =
    parent.fold(rows) { p =>
      val touched = rows.select("__bucket").distinct().collect().map(_.getInt(0)).toSet
      val live = p.files.filter(f => touched(f.bucket))
      if (live.isEmpty) rows
      else rows.join(readEntries(rows.sparkSession, live, schemaOf(p))
        .select(keyColumns.map(col): _*), keyColumns, "left_anti")
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
    * normal epoch (exactly-once semantics apply); merge-on-read tables are
    * resolved bucket-locally on the OLD layout (no exchange), then the one
    * repartition moves rows to the new bucket count, so the new layout
    * starts compact. Later commits and reads pick up the new count from the
    * manifest (`currentNumBuckets`). Point lookups hash with the AS-OF
    * manifest's bucket count, so time travel across a rebucket stays
    * correct. NOTE:
    * the rewrite resolves merge-on-read tables regardless of
    * `changeRetention` — a `changesSince` consumer lagging past a rebucket
    * sees only surviving versions (schedule rebuckets behind the slowest
    * consumer, like any compaction).
    */
  def rebucket(spark: SparkSession, newNumBuckets: Int, epoch: Long): Manifest =
    publish(epoch, "rebucket") { parent =>
      val p = parent.getOrElse(
        throw new IllegalStateException("rebucket requires an existing table"))
      // ALWAYS carry the per-row commit stamp through the rewrite — dropping
      // it would break changesSince for append-only tables after a rebucket
      val rewritten = bucketLocal(spark, byBucket(p.files), withEpochCol(schemaOf(p)),
        resolve = mergeOnRead).withColumn("__bucket", bucketColFor(newNumBuckets))
      val dirRel = f"data/e$epoch%012dr"
      writeBuckets(rewritten.repartition(newNumBuckets, col("__bucket"),
        saltColFor(saltFactor)), dirRel)
      Some(Staged(entriesFor(dirRel, epoch, bucketStatsOf(rewritten)), p.schemaId,
        p.schemaJson, newNumBuckets,
        p.metadata + ("rebucketed-from" -> p.numBuckets.toString), Map.empty))
    }

  /** Publish via hard-link, not rename: POSIX rename (ATOMIC_MOVE) silently
    * REPLACES an existing target, so a racing duplicate-epoch committer
    * would overwrite the first commit — link(2) is equally atomic but fails
    * with EEXIST, making first-commit-wins real. Stale `.tmp` files from
    * crashed commits are swept first, but ONLY when old enough that no live
    * committer can still own them — two live committers of DIFFERENT epochs
    * (e.g. a maintenance compaction racing an apply) must not delete each
    * other's in-flight tmp. Concurrent committers of the SAME epoch still
    * must not run concurrently (they share the epoch's data directory with
    * SaveMode.Overwrite — the hard-link guard protects the manifest, not
    * the files it points to).
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

  /** Parquet codec for every lake write: zstd trades CPU (which scales with
    * cores/executors) for bytes on the shared write path (disk here, object
    * store on a cluster) — the right side of the trade for an ingest-bound
    * table format, and it measurably improves thread-scaling on a
    * single-disk box (BENCH/BASELINE.md §2).
    */
  val compression: String = "zstd"

  /** A snapshot read that hides the internal bucket column. */
  def readSnapshot(t: LakeTable, spark: SparkSession, asOf: Long = Long.MaxValue): DataFrame = {
    val df = t.snapshot(spark, asOf)
    if (df.columns.contains("__bucket")) df.drop("__bucket") else df
  }
}
