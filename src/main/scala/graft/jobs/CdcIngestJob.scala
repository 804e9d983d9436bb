package graft.jobs

import graft.cdc.{CdcEngine, ChangeEvent, Enrichment}
import graft.sources.ChangeLogSource
import org.apache.spark.sql.SparkSession

/** The CDC engine's spark-submit front door — the north-rule run mode
  * ("run via spark-submit on a multi-executor cluster"): tail a change log
  * into a lake warehouse, epoch by epoch, resuming from whatever both
  * tables last committed. Idempotent by construction: re-running the job
  * over the same log replays committed epochs as manifest stats and
  * applies only the tail.
  *
  * Env surface:
  *   GRAFT_CDC_INPUT        change-log gzip-CSV dir(s), comma-separated
  *   GRAFT_WAREHOUSE        lake warehouse root (created if absent)
  *   GRAFT_BUCKETS          bucket count for NEW warehouses (default 32;
  *                          existing warehouses keep their manifest count)
  *   GRAFT_CUTOFF_DAYS      conversation cutoff (default 14)
  *   GRAFT_DIM_PATH         optional org dimension (parquet dir or
  *                          comma-separated organisationMetadata.json) —
  *                          maintains the third, enriched table
  *   GRAFT_STRICT_ODS=true  abort an epoch whose transfers lack dim
  *                          coverage (side-effect-free; see strictDimMonths)
  *   GRAFT_DIM_UPDATE       optional dim-refresh delta (same formats as
  *                          GRAFT_DIM_PATH), committed durably on the
  *                          dimlog chain BEFORE the tail ingests — the
  *                          operational path for a monthly ODS drop; its
  *                          retro-correction rides the first epoch this
  *                          run applies
  *   GRAFT_DIM_UPDATE_VERSION  the delta's dim version (required with
  *                          GRAFT_DIM_UPDATE; its own monotonic number
  *                          space, disjoint from ingest epoch ids)
  *   SPARK_MASTER           defaults to local[*]; set by spark-submit on a
  *                          real cluster
  *
  * Epoch identity: the change log's own `epoch` stamps (a binlog tail's
  * batch numbering — the generator, a Kafka-offset chunker, or a CDC
  * collector all provide one). The job replays `committedThrough+1 ..`
  * through `applyEpochs`, the engine's one epoch driver, so crash/restart
  * at any point resumes exactly (asserted by ResumeAndExportSpec/
  * PipelinedApplySpec for the engine primitives and `CdcIngestJobSpec`
  * end-to-end).
  */
object CdcIngestJob {

  final case class Result(firstEpoch: Long, lastEpoch: Long, appliedEpochs: Long)

  def run(spark: SparkSession, env: Map[String, String]): Result = {
    import spark.implicits._
    def required(k: String): String = env.getOrElse(k,
      throw new IllegalArgumentException(s"$k is required"))
    val inputs = required("GRAFT_CDC_INPUT").split(',').toSeq
      .map(_.trim).filter(_.nonEmpty)
    val warehouse = required("GRAFT_WAREHOUSE")
    val buckets = env.get("GRAFT_BUCKETS").map(_.toInt).getOrElse(32)
    val cutoffDays = env.get("GRAFT_CUTOFF_DAYS").map(_.toInt).getOrElse(14)
    val dim = env.get("GRAFT_DIM_PATH").map(Enrichment.loadDim(spark, _))
    val dimMonths = dim.map(d => d.select("yearMonth").distinct()
      .as[Int].collect().toSet)
    val strict = env.get("GRAFT_STRICT_ODS").contains("true")
    // a strict flag without a dim is a misconfiguration, not a mode: the
    // engine itself rejects strict-without-months, so silently running
    // non-strict here would disable the caller's fail-fast with no signal
    require(!strict || dim.isDefined,
      "GRAFT_STRICT_ODS=true requires GRAFT_DIM_PATH — strict mode can only " +
        "fail fast on months a declared dim is missing")
    val eng = new CdcEngine(warehouse, numBuckets = buckets,
      cutoffMicros = cutoffDays * 24L * 3600 * 1000000L,
      dim = dim, dimMonths = dimMonths, strictDimMonths = strict)

    env.get("GRAFT_DIM_UPDATE").foreach { p =>
      require(dim.isDefined, "GRAFT_DIM_UPDATE requires GRAFT_DIM_PATH — " +
        "there is no enriched table to refresh without a dim")
      val version = env.getOrElse("GRAFT_DIM_UPDATE_VERSION",
        throw new IllegalArgumentException(
          "GRAFT_DIM_UPDATE_VERSION is required with GRAFT_DIM_UPDATE")).toLong
      eng.applyDimUpdate(spark, Enrichment.loadDim(spark, p), version)
    }

    val log = ChangeLogSource.readCsv(spark, inputs: _*).cache()
    try {
      val epochs = log.select("epoch").distinct().as[Long].collect().sorted
      require(epochs.nonEmpty, "change log is empty")
      // resume: fully-committed epochs replay as one manifest stat each
      // inside applyEpochs' fast path, so handing the full range is safe —
      // but skipping them here avoids even their batch filters
      val from = eng.committedThrough().getOrElse(-1L) + 1
      val todo = epochs.filter(_ >= from)
      val batches: Seq[(Long, org.apache.spark.sql.Dataset[ChangeEvent])] =
        todo.toIndexedSeq.map(e => e -> log.where(org.apache.spark.sql.functions.col("epoch") === e))
      eng.applyEpochs(spark, batches)
      val r = Result(epochs.head, epochs.last, todo.length.toLong)
      println(s"[graft] CDC_INGEST epochs=${r.firstEpoch}..${r.lastEpoch} " +
        s"applied=${r.appliedEpochs} warehouse=$warehouse")
      r
    } finally log.unpersist()
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sys.env) finally spark.stop()
  }
}
