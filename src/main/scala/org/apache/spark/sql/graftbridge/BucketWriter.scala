package org.apache.spark.sql.graftbridge

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.{RDD, UnionRDD}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import scala.collection.mutable.ArrayBuffer

/** One parquet file a write task wrote: `dir/__bucket=<bucket>/<name>`
  * under the table root, its exact size and row count, and the first and
  * last non-null value of the first key column in the file's key order
  * (string keys only) — its min and max in UTF8String byte order.
  */
final case class WrittenFile(dir: String, bucket: Int, name: String, bytes: Long, rows: Long,
                             first: Option[String], last: Option[String])

/** What one commit's write job writes.
  *
  * `schema` is the file schema; its last field is the per-row commit epoch.
  * New rows land under `deltaDir`, compacted buckets under `compactDir`.
  * Both maps give a bucket's compactable leaves (absolute path, bytes),
  * oldest commit first. A bucket in `mergeNew` must have all of its new
  * rows in one input partition: that task merges them, as the newest leaf,
  * with the old leaves and writes one resolved file. A bucket in
  * `compactOld` is compacted by a task of its own that reads only the old
  * leaves; new rows of such a bucket are written as a delta.
  */
final case class BucketWritePlan(
    root: String,
    schema: StructType,
    keyColumns: Seq[String],
    deltaDir: String,
    compactDir: String,
    mergeNew: Map[Int, Seq[(String, Long)]] = Map.empty,
    compactOld: Map[Int, Seq[(String, Long)]] = Map.empty)

/** The lake's one task writer. A commit is one Spark job: each task writes
  * its buckets' parquet files straight into the commit's directories
  * through Spark's parquet `OutputWriterFactory` and returns a
  * `WrittenFile` per file, from which the driver builds the manifest
  * without listing a directory. There is no output committer, no
  * `_temporary` staging and no rename: a file no manifest lists is never
  * read, so a failed job leaves invisible orphans only.
  *
  * The Hadoop configuration travels as one broadcast per commit, destroyed
  * after the job, instead of inside every task. Each task stamps the commit
  * epoch itself, so the commit's generated code is the same every epoch,
  * and fills Spark's task output metrics (bytes and records written).
  */
object BucketWriter {
  /** The bucket column every input carries, after the file columns. */
  val BucketColumn = "__bucket"

  /** Parquet codec of every lake file: zstd trades CPU (which scales with
    * cores/executors) for bytes on the shared write path (disk here, object
    * store on a cluster) — the right side of the trade for an ingest-bound
    * table format, and it measurably improves thread-scaling on a
    * single-disk box (BENCH/BASELINE.md §2).
    */
  val Compression = "zstd"

  /** Run the write job. `input` holds the file columns of `plan.schema` in
    * order — all but the epoch column when `stamp` is given, all of them
    * otherwise — followed by the int `__bucket` column. Each partition is
    * sorted by (bucket, key) here, so every file is in key order.
    */
  def write(spark: SparkSession, input: Option[DataFrame], stamp: Option[Long],
            plan: BucketWritePlan): Seq[WrittenFile] = {
    if (input.isEmpty && plan.compactOld.isEmpty) return Seq.empty
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sc = spark.sparkContext
    val schema = plan.schema.asNullable
    val job = Job.getInstance(session.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(session, job,
      Map("compression" -> Compression), schema)
    val conf = sc.broadcast(new SerializableConfiguration(job.getConfiguration))
    try {
      val compacting = plan.mergeNew.nonEmpty || plan.compactOld.nonEmpty
      val leafRead = if (!compacting) None else Some(new ParquetFileFormat()
        .buildReaderWithPartitionValues(session, schema, new StructType(), schema, Nil,
          Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), session.sessionState.newHadoopConf()))
      // delta files keep the input's nullability (the stamp is never null);
      // compacted files mix in rows read back from files, which read nullable
      val deltaSchema = input.fold(schema) { df =>
        val data = StructType(df.schema.filter(_.name != BucketColumn))
        stamp.fold(data)(_ => data.add(schema.last.copy(nullable = false)))
      }
      val task = new WriteTask(plan, schema, deltaSchema, stamp,
        java.util.UUID.randomUUID().toString, factory, conf, leafRead)
      val deltas: Option[RDD[WrittenFile]] = input.map { df =>
        val sorted = df.sortWithinPartitions((BucketColumn +: plan.keyColumns).map(col): _*)
        sorted.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.toRdd
          .mapPartitions(task.writeRows)
      }
      val alone: Option[RDD[WrittenFile]] =
        if (plan.compactOld.isEmpty) None
        else {
          val buckets = plan.compactOld.keys.toSeq.sorted
          Some(sc.parallelize(buckets, buckets.size).mapPartitions(task.compactBuckets))
        }
      val rdds = deltas.toSeq ++ alone
      (if (rdds.size == 1) rdds.head else new UnionRDD(sc, rdds)).collect().toSeq
    } finally conf.destroy()
  }
}

/** The executor side of one commit's write job. */
private final class WriteTask(plan: BucketWritePlan, schema: StructType,
                              deltaSchema: StructType, stamp: Option[Long],
                              /** names this job's files apart from any earlier attempt's */
                              jobId: String, factory: OutputWriterFactory,
                              conf: Broadcast[SerializableConfiguration],
                              leafRead: Option[PartitionedFile => Iterator[InternalRow]])
    extends Serializable {

  /** Opens, writes and closes one file per bucket run, and reports every
    * file the task wrote in its output metrics. */
  private final class Files(ctx: TaskContext) {
    // the parquet writer takes its schema from the configuration
    private val compactAttempt = new TaskAttemptContextImpl(conf.value.value, new TaskAttemptID())
    private lazy val deltaAttempt = {
      val c = new Configuration(conf.value.value)
      c.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, deltaSchema.json)
      new TaskAttemptContextImpl(c, new TaskAttemptID())
    }
    private val fs = new HPath(plan.root).getFileSystem(conf.value.value)
    private val k0 = schema.fieldIndex(plan.keyColumns.head)
    private val stringKey = schema(k0).dataType == StringType
    val written = ArrayBuffer.empty[WrittenFile]

    def write(dir: String, bucket: Int, rows: Iterator[InternalRow]): Unit = if (rows.hasNext) {
      val (attempt, fileSchema) =
        if (dir == plan.deltaDir) (deltaAttempt, deltaSchema) else (compactAttempt, schema)
      val name = f"part-${ctx.partitionId()}%05d-$jobId-${ctx.attemptNumber()}" +
        factory.getFileExtension(attempt)
      val path = s"${plan.root}/$dir/__bucket=$bucket/$name"
      val out = factory.newInstance(path, fileSchema, attempt)
      var n = 0L
      var first: UTF8String = null
      var last: UTF8String = null
      try {
        while (rows.hasNext) {
          val r = rows.next()
          out.write(r)
          n += 1
          if (stringKey && !r.isNullAt(k0)) {
            val k = r.getUTF8String(k0)
            if (last == null || last != k) {
              last = k.clone()
              if (first == null) first = last
            }
          }
        }
      } catch {
        case t: Throwable =>
          try out.close() catch { case s: Throwable => t.addSuppressed(s) }
          fs.delete(new HPath(path), false)
          throw t
      }
      out.close()
      written += WrittenFile(dir, bucket, name, fs.getFileStatus(new HPath(path)).getLen, n,
        Option(first).map(_.toString), Option(last).map(_.toString))
      val metrics = ctx.taskMetrics().outputMetrics
      metrics.setBytesWritten(written.map(_.bytes).sum)
      metrics.setRecordsWritten(written.map(_.rows).sum)
    }
  }

  private def open(file: (String, Long)): Iterator[InternalRow] =
    leafRead.get(PartitionedFile(InternalRow.empty, SparkPath.fromPath(new HPath(file._1)),
      0L, file._2, Array.empty[String], 0L, file._2))

  private def resolve(leaves: Seq[Iterator[InternalRow]]): Iterator[InternalRow] =
    if (leaves.size == 1) leaves.head
    else LastWriterWins(leaves, schema, plan.keyColumns, schema.last.name)

  /** A task of the input: its rows sorted by (bucket, key), each bucket
    * written as one delta file, or merged with its old leaves. */
  def writeRows(rows: Iterator[InternalRow]): Iterator[WrittenFile] = {
    val files = new Files(TaskContext.get())
    // the file columns, then the bucket
    val bucketIdx = if (stamp.isDefined) schema.length - 1 else schema.length
    val project = UnsafeProjection.create(
      (0 until bucketIdx).map(i => BoundReference(i, schema(i).dataType, nullable = true)))
    val stamped: InternalRow => InternalRow = stamp match {
      case Some(e) =>
        val joined = new JoinedRow(null, new GenericInternalRow(Array[Any](e)))
        r => joined.withLeft(project(r))
      case None => project
    }
    // the row fetched but not yet consumed: it stays valid until the next
    // `rows.next()`, which may reuse the object
    var pending: InternalRow = null
    def fetch(): Boolean = {
      if (pending == null && rows.hasNext) pending = rows.next()
      pending != null
    }
    while (fetch()) {
      val bucket = pending.getInt(bucketIdx)
      val run = new Iterator[InternalRow] {
        def hasNext: Boolean = fetch() && pending.getInt(bucketIdx) == bucket
        def next(): InternalRow = { val r = pending; pending = null; stamped(r) }
      }
      plan.mergeNew.get(bucket) match {
        case Some(old) => files.write(plan.compactDir, bucket, resolve(old.map(open) :+ run))
        case None => files.write(plan.deltaDir, bucket, run)
      }
    }
    files.written.iterator
  }

  /** A compaction-only task: each of its buckets' old leaves resolved into
    * one file. */
  def compactBuckets(buckets: Iterator[Int]): Iterator[WrittenFile] = {
    val files = new Files(TaskContext.get())
    buckets.foreach(b => files.write(plan.compactDir, b, resolve(plan.compactOld(b).map(open))))
    files.written.iterator
  }
}
