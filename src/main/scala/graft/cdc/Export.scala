package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S7: daily-partitioned columnar output — the reference writes one parquet
  * per day in a driver loop (`spine_runner.py:28-54`, paths
  * `v11/cutoff-{c}/YYYY/MM/DD/...`, `s3_uri_resolver.py:77-87`); Spark-first
  * this is ONE `partitionBy(day)` write, with the day derived from
  * `date_requested` exactly like the reference's P2 day assignment.
  */
object Export {
  def withDay(transfers: DataFrame): DataFrame =
    transfers.withColumn("date_requested_day",
      date_format(timestamp_micros(col("dateRequestedMicros")), "yyyy-MM-dd"))

  def exportDaily(transfers: DataFrame, outDir: String): Unit =
    withDay(transfers)
      .repartition(col("date_requested_day"))
      .write.mode("overwrite")
      .partitionBy("date_requested_day")
      .parquet(outDir)

  /** The reference's LITERAL output tree —
    * `{base}/v11/cutoff-{c}/YYYY/MM/DD/YYYY-MM-DD-transfers.parquet`
    * (`s3_uri_resolver.py:80-91`, one parquet per day,
    * `spine_runner.py:28-54`) — for drop-in compatibility with consumers of
    * that layout. A driver loop over the window's days with a
    * single-partition write each, exactly the reference's write pattern;
    * the Hive-partitioned `exportDaily` above remains the at-scale path
    * (same rows, golden-diffed equivalent).
    *
    * Returns the written day → path map.
    */
  def exportDailyReferenceLayout(transfers: DataFrame, base: String,
                                 cutoffDays: Int): Map[String, String] = {
    val spark = transfers.sparkSession
    import spark.implicits._
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val withD = withDay(transfers).cache()
    try {
      val days = withD.select("date_requested_day").distinct()
        .as[String].collect().sorted
      days.map { d =>
        val path = UriResolver.gp2gpTransfers(base, java.time.LocalDate.parse(d), cutoffDays)
        // the reference writes ONE parquet OBJECT at this exact path — a
        // Spark directory write (part files + _SUCCESS) would break
        // single-object consumers (pandas/pyarrow GET on the key), so the
        // single part file is moved onto the literal path. The relocation
        // goes through the Hadoop FileSystem API, so the layout works on
        // whatever store `base` names (the layout's native habitat is an
        // object store, `s3_uri_resolver.py`), not just local paths.
        val tmp = path + ".spark-tmp"
        withD.filter(col("date_requested_day") === d)
          .drop("date_requested_day")
          .coalesce(1)
          .write.mode("overwrite").parquet(tmp)
        val tmpDir = new org.apache.hadoop.fs.Path(tmp)
        val fs = tmpDir.getFileSystem(hadoopConf)
        val part = fs.listStatus(tmpDir).map(_.getPath)
          .find(_.getName.endsWith(".parquet"))
          .getOrElse(throw new IllegalStateException(s"no part file in $tmp"))
        val target = new org.apache.hadoop.fs.Path(path)
        fs.mkdirs(target.getParent)
        fs.delete(target, false) // rename-onto-existing is not portable
        if (!fs.rename(part, target))
          throw new IllegalStateException(s"rename $part -> $target failed")
        fs.delete(tmpDir, true)
        d -> path
      }.toMap
    } finally withD.unpersist()
  }

  /** The incremental exporter's durable cursor — persisted IN THE EXPORT
    * DESTINATION (a `_graft_cursor` file beside the day partitions), not as
    * a commit on the transfers chain: every lake table is single-writer,
    * and the exporter is a downstream CONSUMER (typically another process),
    * so a cursor commit on the source chain would race ingest commits.
    * Offsets belong to the consumer (the Kafka consumer-group model).
    * Written atomically (tmp + ATOMIC_MOVE); a crash between the export
    * write and the cursor advance re-exports the same days on restart —
    * idempotent, because `exportDailyIncremental` deterministically
    * overwrites exactly the affected day partitions.
    */
  private def cursorPath(outDir: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(outDir, "_graft_cursor")

  /** Hadoop FileSystem for `outDir` — the cursor and the vacated-day
    * deletes must go to the SAME store the day partitions land on (object
    * store, HDFS, or local), not to whatever local disk the exporter
    * process happens to run on.
    */
  private def destFs(spark: org.apache.spark.sql.SparkSession,
                     outDir: String): org.apache.hadoop.fs.FileSystem =
    cursorPath(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def readCursor(spark: org.apache.spark.sql.SparkSession,
                 outDir: String): Option[Long] = {
    val fs = destFs(spark, outDir)
    val p = cursorPath(outDir)
    if (!fs.exists(p)) None
    // an unreadable cursor — zero-length, non-numeric, or failing the
    // store's checksum after truncation — must not wedge the exporter:
    // treat it as absent and fall back to the full re-export, which is
    // documented idempotent (the next advance rewrites cursor + checksum)
    else scala.util.Try {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }.toOption
  }

  private def writeCursor(spark: org.apache.spark.sql.SparkSession,
                          outDir: String, epoch: Long): Unit = {
    val fs = destFs(spark, outDir)
    val tmp = new org.apache.hadoop.fs.Path(outDir, "._graft_cursor.tmp")
    val out = fs.create(tmp, true)
    try out.write(epoch.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(cursorPath(outDir), false)
    if (!fs.rename(tmp, cursorPath(outDir)))
      throw new IllegalStateException(s"cursor rename failed in $outDir")
    // local/HDFS rename is atomic; on copy-based object stores the tiny
    // delete→rename window only ever costs an idempotent re-export
  }

  /** Self-resuming incremental export: reads its own persisted cursor from
    * `outDir`, exports `(cursor, head]`, and advances the cursor to the
    * table head — so a restarted exporter (new process, no caller state)
    * continues exactly where the last successful run finished. First run
    * (no cursor) exports everything. Returns the rewritten day set.
    */
  def exportDailyIncrementalResumable(table: graft.lake.LakeTable,
                                      spark: org.apache.spark.sql.SparkSession,
                                      outDir: String): Seq[String] = {
    val head = table.latestManifest().map(_.epoch).getOrElse(return Seq.empty)
    val since = readCursor(spark, outDir).getOrElse(-1L)
    if (head <= since) return Seq.empty // nothing committed since the cursor
    val days = exportDailyIncremental(table, spark, outDir, since, asOf = head)
    writeCursor(spark, outDir, head)
    days
  }

  /** Incremental flavour: rewrite ONLY the day partitions affected since the
    * exporter's last run, instead of re-exporting the whole table.
    *
    * The affected-day set is the days of the table's NEW row versions in
    * `(sinceEpoch, asOf]` (the `changesSince` stream) PLUS the days those
    * same keys occupied in the as-of-`sinceEpoch` snapshot — without the
    * second term a re-classified session whose `date_requested` MOVED
    * (a late-but-in-cutoff earlier request-start) would leave its stale row
    * exported under the old day forever. Those days' current rows are then
    * re-read from the resolved snapshot and dynamically overwritten
    * (`partitionOverwriteMode=dynamic` — untouched day directories are not
    * rewritten); a day left with no rows is deleted through the
    * destination's Hadoop FileSystem, like the partitions and the cursor.
    *
    * Cost: at most four Spark jobs and no cache. Two driver-side collects
    * find the affected days — the changed rows' (repo, day), then the
    * changed repos' days as of `sinceEpoch` through `lookupAll` (pruned to
    * their buckets and keys, resolved bucket-locally). The write takes the
    * exchange by day plus the write itself, and observes the days it wrote
    * inside the write job. Work is O(changed rows + changed days' current
    * rows), not O(table).
    *
    * Returns the rewritten day set (empty = nothing changed). The caller
    * owns the cursor: persist `asOf` (e.g. the table's head epoch) and pass
    * it back as the next call's `sinceEpoch`.
    */
  def exportDailyIncremental(table: graft.lake.LakeTable,
                             spark: org.apache.spark.sql.SparkSession,
                             outDir: String, sinceEpoch: Long,
                             asOf: Long = Long.MaxValue): Seq[String] = {
    val changes = table.changesSince(spark, sinceEpoch, asOf)
    if (changes.columns.isEmpty) return Seq.empty
    import spark.implicits._
    val changed = withDay(changes).select(col("repo"), col("date_requested_day"))
      .as[(String, String)].collect()
    val movedFrom = {
      val prior = table.lookupAll(spark, changed.map(_._1).distinct.toSeq, asOf = sinceEpoch)
      if (prior.columns.isEmpty) Seq.empty
      else withDay(prior).select(col("date_requested_day")).as[String].collect().toSeq
    }
    val days = (changed.map(_._2).toSeq ++ movedFrom).distinct.sorted
    if (days.isEmpty) return Seq.empty
    val written = org.apache.spark.sql.Observation()
    withDay(table.snapshot(spark, asOf))
      .filter(col("date_requested_day").isin(days: _*))
      .repartition(col("date_requested_day"))
      .observe(written, collect_set(col("date_requested_day")).as("days"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("date_requested_day")
      .parquet(outDir)
    // dynamic overwrite only replaces partitions PRESENT in the written
    // data — a day whose rows all moved away is written as nothing and its
    // stale directory would survive; remove those explicitly
    val nonEmpty = written.get("days").asInstanceOf[scala.collection.Seq[String]].toSet
    val fs = destFs(spark, outDir)
    days.filterNot(nonEmpty).foreach { d =>
      fs.delete(new org.apache.hadoop.fs.Path(outDir, s"date_requested_day=$d"), true)
    }
    days
  }
}
