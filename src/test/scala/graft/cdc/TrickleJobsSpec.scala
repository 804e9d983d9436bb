package graft.cdc

import graft.{JobProbe, SparkSpec}
import graft.lake.LakeTable

/** The small-epoch step is paid in Spark jobs, so its job counts are pinned:
  * a commit is its write, plus ONE job when it compacts (the bucket-local
  * read-resolve-write, counted in-job); the enriched commit runs no dim
  * job; the incremental export runs at most four jobs. None of the commits
  * writes shuffle bytes.
  */
class TrickleJobsSpec extends SparkSpec {
  private val day = 24L * 3600 * 1000000L

  test("trickle epochs: one job per commit plus one per compaction, no shuffle; export ≤ 4 jobs") {
    val log = ChangeLogGen.generate(spark, GenConfig(numConversations = 200,
      hotConversations = 0, hotFragments = 0, epochs = 6)).cache()
    val eng = new CdcEngine(tmpDir("trickle-jobs"), numBuckets = 4,
      cutoffMicros = 14 * day, compactThreshold = 2,
      dim = Some(Enrichment.generateDim(spark, numAsids = 997,
        yearMonths = Seq(201911, 201912))))
    val out = tmpDir("trickle-jobs-out")
    eng.applyEpoch(spark, log.filter(_.epoch == 0L), 0L)
    Export.exportDailyIncrementalResumable(eng.transfers, spark, out)

    val tables = Seq(
      "state commit (appendNew)" -> eng.state,
      "transfers commit (mergeDelta)" -> eng.transfers,
      "enriched commit (mergeDelta)" -> eng.enriched.get)
    def compacted(t: LakeTable, e: Long): Boolean =
      t.manifestAt(e).get.files.exists(f => f.epochAdded == e && f.path.contains("c/"))
    val everCompacted = scala.collection.mutable.Set.empty[String]

    (1L to 5L).foreach { e =>
      val apply = JobProbe(spark)(eng.applyEpoch(spark, log.filter(_.epoch == e), e))
      tables.foreach { case (phase, t) =>
        val d = s"cdc epoch $e: $phase"
        val c = compacted(t, e)
        if (c) everCompacted += phase
        assert(apply.jobs(d) == (if (c) 2 else 1),
          s"$d (compacted=$c) ran ${apply.jobs(d)} jobs")
        assert(apply.shuffleBytes(d) == 0L, s"$d wrote shuffle bytes")
      }
      var days = Seq.empty[String]
      val export = JobProbe(spark) {
        days = Export.exportDailyIncrementalResumable(eng.transfers, spark, out)
      }
      assert(days.isEmpty || export.totalJobs <= 4,
        s"epoch $e export ran ${export.totalJobs} jobs")
    }
    assert(everCompacted == tables.map(_._1).toSet,
      s"every table must compact within the run: $everCompacted")
  }
}
