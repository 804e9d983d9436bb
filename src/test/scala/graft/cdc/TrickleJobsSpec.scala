package graft.cdc

import graft.{JobProbe, SparkSpec}
import graft.lake.LakeTable
import scala.jdk.CollectionConverters._

/** The small-epoch step is paid in Spark jobs, so its job counts are pinned:
  * a commit is ONE write job, compacting or not (the task that writes a
  * bucket's new rows also compacts it); the enriched commit runs no dim
  * job; the incremental export runs at most four jobs. None of the commits
  * writes shuffle bytes, and each reports as output bytes exactly the leaf
  * files its manifest adds.
  */
class TrickleJobsSpec extends SparkSpec {
  private val day = 24L * 3600 * 1000000L

  test("trickle epochs: one job per commit, compacting or not, no shuffle; export ≤ 4 jobs") {
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
        assert(apply.jobs(d) == 1, s"$d (compacted=$c) ran ${apply.jobs(d)} jobs")
        assert(apply.shuffleBytes(d) == 0L, s"$d wrote shuffle bytes")
        val added = t.manifestAt(e).get.files.filter(_.epochAdded == e).flatMap(_.leaves)
        assert(added.nonEmpty && apply.outputBytes(d) == added.map(_.bytes).sum,
          s"$d reported ${apply.outputBytes(d)} output bytes for leaves $added")
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
    // tasks write straight into the commit directories: no committer staging
    tables.foreach { case (_, t) =>
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(t.root))
      val staged = try walk.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n == "_SUCCESS" || n == "_temporary").toList
        finally walk.close()
      assert(staged.isEmpty, s"${t.root} holds committer files: $staged")
    }
  }
}
