package org.apache.spark.sql.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Expression, InterpretedOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex, HadoopFsRelation, LogicalRelation, OutputWriterFactory, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** A `FileIndex` whose file set (paths + exact sizes) is supplied by the
  * caller — the lake's commit manifests — so a snapshot scan plans with
  * ZERO filesystem listing or stat calls. `spark.read.parquet(paths)`
  * builds an `InMemoryFileIndex` that lists every path per action (a
  * driver-side job per read — and on an object store at production scale,
  * one LIST round-trip per directory per query). The manifest already
  * knows every live file and its size; this index hands Spark exactly
  * that, the same planning shape Iceberg/Delta use. Split planning,
  * predicate pushdown, and column pruning behave identically — only the
  * metadata round-trips disappear.
  *
  * `files` are the units Spark plans splits over; `leafPaths` the data
  * files they stand for (`inputFiles`). They differ only for the
  * bucket-local scan, whose unit is a whole bucket.
  */
final class ManifestFileIndex(files: Seq[(String, Long)],
                              leafPaths: Seq[String]) extends FileIndex {
  def this(files: Seq[(String, Long)]) = this(files, files.map(_._1))
  private val statuses: Array[FileStatus] = files.map { case (p, len) =>
    // mod-time 0: the lake's data files are immutable once committed, so
    // freshness-by-mtime is meaningless here
    new FileStatus(len, false, 1, 134217728L, 0L, new HPath(p))
  }.toArray
  override def rootPaths: Seq[HPath] = statuses.map(_.getPath).toSeq
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, statuses))
  override def inputFiles: Array[String] = leafPaths.toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_._2).sum
  override def partitionSchema: StructType = new StructType()
}

/** Read-only parquet format whose split unit is one whole lake bucket: the
  * index lists each bucket as a single unsplittable file (standing at its
  * first leaf's path, sized as all its leaves), and the reader opens every
  * leaf of that bucket inside the one task. A bucket of more than one leaf
  * resolves last-writer-wins there — per key, the row with the highest
  * `epochColumn` (null epochs lose) — by a streaming merge of the leaves,
  * each of which the lake's writers sorted by key. No exchange, and memory
  * bounded by the bucket's leaf count, not its rows. A single leaf reads
  * straight through.
  *
  * The scan reports no partitioning (Spark's `UnknownPartitioning`): the
  * lake's buckets are xxhash64-pmod buckets, not Spark's murmur3 hash
  * partitions, so any operator that needs rows clustered still shuffles.
  *
  * Only KEY predicates run before resolution. Spark pushes every data
  * filter into a file scan (they show under `PushedFilters`); the reader
  * hands the parquet readers only those over key columns, for row-group
  * pruning. A non-key predicate applied there could drop a key's newer
  * version and bring back a superseded one; the `Filter` Spark keeps above
  * the scan applies it to the resolved rows instead.
  */
private final class BucketLocalFormat(
    /** unit path (as `SparkPath.urlEncoded`) → the bucket's leaf files,
      * oldest commit first */
    units: Map[String, Seq[(String, Long)]],
    keyColumns: Seq[String],
    epochColumn: String) extends FileFormat with Serializable {

  override def toString: String = "BucketLocalParquet"

  override def inferSchema(spark: SparkSession, options: Map[String, String],
                           files: Seq[FileStatus]): Option[StructType] = None

  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
                            dataSchema: StructType): OutputWriterFactory =
    throw new UnsupportedOperationException("the bucket-local scan is read-only")

  override def isSplitable(spark: SparkSession, options: Map[String, String],
                           path: HPath): Boolean = false

  override def buildReaderWithPartitionValues(
      spark: SparkSession, dataSchema: StructType, partitionSchema: StructType,
      requiredSchema: StructType, filters: Seq[Filter], options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val keys = keyColumns.toSet
    val needed = requiredSchema.fieldNames.toSet ++ keys + epochColumn
    val readSchema = StructType(dataSchema.filter(f => needed(f.name)))
    val leafRead = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, dataSchema, partitionSchema, readSchema,
      filters.filter(_.references.forall(keys)),
      options + (FileFormat.OPTION_RETURNING_BATCH -> "false"), hadoopConf)
    val units = this.units
    val outIdx = requiredSchema.fieldNames.toSeq.map(readSchema.fieldIndex)

    unit => {
      val out = UnsafeProjection.create(
        outIdx.map(i => BoundReference(i, readSchema(i).dataType, nullable = true)))
      val files = units(unit.filePath.urlEncoded)
      def open(file: (String, Long)): Iterator[InternalRow] =
        leafRead(PartitionedFile(InternalRow.empty, SparkPath.fromPath(new HPath(file._1)),
          0L, file._2, Array.empty[String], 0L, file._2))
      if (files.size > 1)
        LastWriterWins(files.map(open), readSchema, keyColumns, epochColumn).map(out)
      else open(files.head).map(out)
    }
  }
}

/** Streaming last-writer-wins over key-sorted leaf iterators: a k-way merge
  * that emits, per key, the row with the highest epoch at `epochIdx` (a
  * null epoch loses; an exact tie keeps the earlier leaf). Keys compare in
  * place on the full rows, through `keyOrder` bound to the key ordinals. A
  * leaf out of key order fails the task — resolving it would silently emit
  * two versions.
  */
private[graftbridge] final class LastWriterWins(leaves: Seq[Iterator[InternalRow]],
                                                toRow: UnsafeProjection,
                                                keyOrder: Ordering[InternalRow], epochIdx: Int)
    extends Iterator[InternalRow] {

  private final class Cursor(it: Iterator[InternalRow], val leaf: Int) {
    var row: UnsafeRow = _
    def advance(): Boolean = it.hasNext && {
      val r = toRow(it.next()).copy()
      if (row != null && keyOrder.compare(r, row) < 0)
        throw new IllegalStateException(
          s"leaf $leaf of a bucket is not sorted by key; bucket-local resolution needs " +
            "the key order every lake writer produces")
      row = r
      true
    }
  }

  private val heap = new java.util.PriorityQueue[Cursor]((a: Cursor, b: Cursor) => {
    val c = keyOrder.compare(a.row, b.row)
    if (c != 0) c else Integer.compare(a.leaf, b.leaf)
  })
  leaves.zipWithIndex.foreach { case (it, i) =>
    val c = new Cursor(it, i)
    if (c.advance()) heap.add(c)
  }

  private def newer(a: UnsafeRow, b: UnsafeRow): Boolean =
    !a.isNullAt(epochIdx) && (b.isNullAt(epochIdx) || a.getLong(epochIdx) > b.getLong(epochIdx))

  override def hasNext: Boolean = !heap.isEmpty

  override def next(): InternalRow = {
    val first = heap.poll()
    var best = first.row
    if (first.advance()) heap.add(first)
    while (!heap.isEmpty && keyOrder.compare(heap.peek().row, best) == 0) {
      val c = heap.poll()
      if (newer(c.row, best)) best = c.row
      if (c.advance()) heap.add(c)
    }
    best
  }
}

private[graftbridge] object LastWriterWins {
  /** Resolve `leaves`, rows of `schema`, by `keyColumns`, newest
    * `epochColumn` winning. */
  def apply(leaves: Seq[Iterator[InternalRow]], schema: StructType, keyColumns: Seq[String],
            epochColumn: String): LastWriterWins = {
    def ref(i: Int) = BoundReference(i, schema(i).dataType, nullable = true)
    new LastWriterWins(leaves, UnsafeProjection.create(schema.indices.map(ref)),
      new InterpretedOrdering(keyColumns.map(k => SortOrder(ref(schema.fieldIndex(k)), Ascending))),
      schema.fieldIndex(epochColumn))
  }
}

object ManifestRead {
  private def ofRelation(spark: SparkSession, index: FileIndex, schema: StructType,
                         format: FileFormat): DataFrame = {
    val rel = HadoopFsRelation(
      location = index,
      partitionSchema = new StructType(),
      dataSchema = schema,
      bucketSpec = None,
      fileFormat = format,
      options = Map.empty)(spark)
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(
      cs, LogicalRelation(rel, isStreaming = false))
  }

  /** Parquet scan over an exact, pre-known (path, size) file set. */
  def parquet(spark: SparkSession, files: Seq[(String, Long)],
              schema: StructType): DataFrame =
    ofRelation(spark, new ManifestFileIndex(files), schema, new ParquetFileFormat)

  /** Bucket-local scan (see `BucketLocalFormat`): each element of `buckets`
    * is one bucket's leaf files, oldest commit first, and is read by exactly
    * one task, which resolves last-writer-wins by `epochColumn` per
    * `keyColumns` value.
    */
  def bucketLocal(spark: SparkSession, buckets: Seq[Seq[(String, Long)]],
                  schema: StructType, keyColumns: Seq[String],
                  epochColumn: String): DataFrame = {
    val nonEmpty = buckets.filter(_.nonEmpty)
    val units = nonEmpty.map(b => b.head._1 -> b)
    val format = new BucketLocalFormat(
      units.map { case (p, b) => SparkPath.fromPath(new HPath(p)).urlEncoded -> b }.toMap,
      keyColumns, epochColumn)
    val index = new ManifestFileIndex(
      units.map { case (p, b) => p -> b.map(_._2).sum }, nonEmpty.flatten.map(_._1))
    ofRelation(spark, index, schema, format)
  }
}
