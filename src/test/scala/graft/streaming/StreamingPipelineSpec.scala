package graft.streaming

import graft.SparkSpec
import graft.cdc.{CdcPipeline, ChangeLogGen, GenConfig}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Batch/stream parity: feeding the change log through the streaming path in
  * multiple triggers ends at the same classified state as one-shot batch
  * classification; redelivered events don't re-emit.
  */
class StreamingPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val day = 24L * 3600 * 1000000L

  test("flatMapGroupsWithState stream equals batch classification") {
    implicit val sqlCtx = spark.sqlContext
    val cfg = GenConfig(numConversations = 60, hotConversations = 1,
      hotFragments = 16, redeliveryPermille = 80, epochs = 3)
    val all = (0L until 60L).flatMap(ChangeLogGen.eventsOf(cfg, _))

    val source = MemoryStream[graft.cdc.ChangeEvent]
    // fixture replays epochs out of event-time order — allow unbounded
    // lateness so parity is exact; the eviction test below uses a tight
    // watermark instead
    val result = StreamingPipeline.classifyStream(source.toDS(), 14 * day,
      watermarkDelay = Some("100000 days"))
    val query = result.writeStream
      .format("memory").queryName("transfers_stream")
      .outputMode(OutputMode.Update())
      .start()
    try {
      // three triggers = three epochs, plus a pure-redelivery fourth trigger
      (0 to 2).foreach { e =>
        source.addData(all.filter(_.epoch == e))
        query.processAllAvailable()
      }
      val countAfter3 = spark.table("transfers_stream").count()
      source.addData(all.filter(_.epoch == 0L)) // redeliver epoch 0 verbatim
      query.processAllAvailable()
      val countAfter4 = spark.table("transfers_stream").count()
      assert(countAfter4 == countAfter3, "pure redelivery must not re-emit")

      // Update mode: the final emission per key is the one classified from
      // the largest state — eventCount grows monotonically with each re-emit
      val streamed = spark.table("transfers_stream")
        .collect()
        .groupBy(_.getAs[String]("repo"))
        .map { case (_, rows) =>
          rows.maxBy(r => (r.getAs[Long]("eventCount"), r.getAs[Long]("maxOffset"))) }
        .toSeq
      val streamedDf = spark.createDataFrame(
        spark.sparkContext.parallelize(streamed), spark.table("transfers_stream").schema)
      val streamedSha = CdcPipeline.withRowSha(streamedDf)
        .select("repo", "row_sha256").as[(String, String)].collect().toMap

      val batchSha = CdcPipeline.withRowSha(
          CdcPipeline.classify(all.toDS(), 14 * day).toDF())
        .select("repo", "row_sha256").as[(String, String)].collect().toMap

      assert(streamedSha == batchSha)
    } finally query.stop()
  }

  test("a trigger that redelivers a stored event counts it in duplicatesDropped") {
    import graft.cdc.{ChangeEvent, MessageParser}
    import graft.classifier.{Interactions, SpineMessage}
    implicit val sqlCtx = spark.sqlContext

    val t0 = 1577836800000000L // 2020-01-01 UTC, micros
    def ev(commit: String, interaction: String, ts: Long, off: Long) =
      ChangeEvent("repo-D", "p", commit, "scala",
        MessageParser.format(SpineMessage(ts, "repo-D", commit, interaction,
          "a", "b", None, None, None, None)),
        offset = off, op = "insert", tsMicros = ts, epoch = 0L)

    val source = MemoryStream[ChangeEvent]
    val result = StreamingPipeline.classifyStream(source.toDS(), 14 * day,
      watermarkDelay = Some("100000 days"))
    val query = result.writeStream
      .format("memory").queryName("dupes_stream")
      .outputMode(OutputMode.Update())
      .start()
    try {
      val start = ev("c1", Interactions.EhrRequestStarted, t0, 1L)
      source.addData(start)
      query.processAllAvailable()
      // the stored start redelivered at a later offset, plus one new event
      source.addData(start.copy(offset = 5L),
        ev("c2", Interactions.EhrRequestCompleted, t0 + 1000000L, 2L))
      query.processAllAvailable()
      val rows = spark.table("dupes_stream")
        .select("eventCount", "duplicatesDropped", "minOffset", "maxOffset")
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq
      assert(rows == Seq((1L, 0L, 1L, 1L), (2L, 1L, 1L, 2L)))
    } finally query.stop()
  }

  test("event-time timeout evicts sessions once the watermark passes their cutoff horizon") {
    import graft.cdc.{ChangeEvent, MessageParser}
    import graft.classifier.{Interactions, SpineMessage}
    implicit val sqlCtx = spark.sqlContext

    val t0 = 1577836800000000L // 2020-01-01 UTC, micros
    def ev(repo: String, commit: String, interaction: String, ts: Long, off: Long) =
      ChangeEvent(repo, "p", commit, "scala",
        MessageParser.format(SpineMessage(ts, repo, commit, interaction,
          "a", "b", None, None, None, None)),
        offset = off, op = "insert", tsMicros = ts, epoch = 0L)

    val source = MemoryStream[ChangeEvent]
    val result = StreamingPipeline.classifyStream(source.toDS(), cutoffMicros = day,
      watermarkDelay = Some("0 seconds"))
    val query = result.writeStream
      .format("memory").queryName("evict_stream")
      .outputMode(OutputMode.Update())
      .start()
    try {
      // session A: starts at t0, cutoff horizon = t0 + 1 day
      source.addData(ev("repo-A", "cA1", Interactions.EhrRequestStarted, t0, 1L))
      query.processAllAvailable()
      assert(spark.table("evict_stream").count() == 1)

      // session B 40 days later: advances the watermark far past A's horizon
      source.addData(ev("repo-B", "cB1", Interactions.EhrRequestStarted,
        t0 + 40 * day, 10L))
      query.processAllAvailable()
      // the timeout fires on the NEXT trigger after the watermark advanced
      source.addData(ev("repo-B", "cB2", Interactions.EhrRequestCompleted,
        t0 + 40 * day + 1000000L, 11L))
      query.processAllAvailable()

      val stateRows = query.lastProgress.stateOperators.head.numRowsTotal
      assert(stateRows == 1, s"A must be evicted, only B's state remains: $stateRows")

      // A's final classified row survives eviction in the sink
      val repos = spark.table("evict_stream")
        .select("repo").as[String].collect().toSet
      assert(repos == Set("repo-A", "repo-B"))
    } finally query.stop()
  }
}
