package graft.tools

import graft.{Bench, JobProbe}
import graft.ops.{GraphOps, TextOps, VectorOps}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** sf1 scale probe (round-6): runs the heaviest data-pipeline operators —
  * d05 MinHash-LSH near-dup join, d09 connected-components clustering, d08
  * SimHash Hamming-LSH join, e02 IVF ANN — at 10× the bench scale (50k
  * docs / 20k vectors derived deterministically from the sf0.1 tables),
  * recording wall seconds AND shuffle bytes (the noise-free metric on this
  * shared box; read per probe through `graft.JobProbe`). Certifies that the
  * LSH band/bucket sizing and the pointer-jump iteration count hold above
  * the gate scale.
  *
  * The sf1 tables are synthesized as `SPARK_GRAFT_SCALE_REPS` (default 10)
  * deterministic replicas of sf0.1: ids offset per replica; replica r>0
  * documents get every 2nd token substituted with a replica-unique variant
  * (Jaccard vs the original ≈ 1/3, safely BELOW the 0.5 dup threshold)
  * EXCEPT docs with (doc_id + r) % 10 == 0, which change exactly one token
  * (planted cross-replica near-dups, ~10% of docs) — so dup density stays
  * realistic instead of every doc exploding into an r-clique. Embeddings
  * add a deterministic per-(id, dim) cosine ripple, preserving the rough
  * cluster geometry the IVF model trains on.
  *
  *   SPARK_GRAFT_SCALE_DIR  where the synthesized parquet lands
  *                          (default /tmp/graft-scaleprobe; reused if
  *                          already present so reruns measure only the
  *                          operators)
  */
object ScaleProbe {

  private def synthesize(spark: SparkSession, sfDir: String, outDir: String,
                         reps: Int): Unit = {
    import spark.implicits._
    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
    val nDocs = docs0.agg(max("doc_id")).as[Long].head() + 1
    val docs = (0 until reps).map { r =>
      val base =
        if (r == 0) docs0
        else {
          val toks = split(col("text"), " ")
          val light = pmod(col("doc_id") + lit(r), lit(10)) === 0
          docs0.withColumn("text", array_join(
            transform(toks, (tok, i) =>
              when(light,
                when(i === pmod(col("doc_id"), size(toks)),
                  concat(lit(s"r${r}x"), tok)).otherwise(tok))
                .otherwise(
                  when(i % 2 === 1, concat(lit(s"r${r}_"), tok)).otherwise(tok))),
            " "))
        }
      base.withColumn("doc_id", col("doc_id") + lit(r * nDocs))
    }.reduce(_ unionByName _)
    docs.repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")

    val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val nVec = emb0.agg(max("vec_id")).as[Long].head() + 1
    val emb = (0 until reps).map { r =>
      val base =
        if (r == 0) emb0
        else emb0.withColumn("embedding",
          transform(col("embedding"), (v, j) =>
            (v + cos(col("vec_id") * 31 + lit(r * 7) + j) * lit(0.05)).cast("float")))
      base.withColumn("vec_id", col("vec_id") + lit(r * nVec))
    }.reduce(_ unionByName _)
    emb.repartition(8).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "10").toInt
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft-scaleprobe")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Bench.session(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // reuse is keyed on the synth PARAMETERS, not bare directory existence —
    // a rerun with different reps/sf must not silently probe stale data
    // while stamping the new reps into the result line
    val paramsStamp = s"reps=$reps sf=$sfDir"
    val paramsFile = new java.io.File(s"$outDir/_graft_synth_params")
    val reusable = new java.io.File(s"$outDir/documents.parquet").exists() &&
      paramsFile.exists() &&
      new String(java.nio.file.Files.readAllBytes(paramsFile.toPath),
        "UTF-8").trim == paramsStamp
    if (!reusable) {
      synthesize(spark, sfDir, outDir, reps)
      java.nio.file.Files.write(paramsFile.toPath,
        paramsStamp.getBytes("UTF-8"))
    }
    val docs = spark.read.parquet(s"$outDir/documents.parquet")
    val emb = spark.read.parquet(s"$outDir/embeddings.parquet")
    val nDocs = docs.count()
    val nVecs = emb.count()

    // one warm-up at the gate scale so JIT/codegen cost stays out of the
    // first probed query (same policy as Bench)
    TextOps.minhashNearDups(
        spark.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text",
        k = 3, numHashes = 32, bands = 8, jaccardThreshold = 0.5)
      .write.mode("overwrite").format("noop").save()

    def probe(name: String)(job: => Long): (String, Double, Long, Long) = {
      var rows = 0L
      var sec = 0.0
      val jobs = JobProbe(spark) { sec = Bench.timed { rows = job } }
      (name, sec, jobs.totalShuffleBytes, rows)
    }

    // d09 consumes d05's persisted pair set, so each probe's wall/shuffle
    // attributes to the operator it certifies (re-running the band join
    // inside d09's timed region would double-count d05's cost there)
    val pairs = TextOps.minhashNearDups(docs, "doc_id", "text",
      k = 3, numHashes = 32, bands = 8, jaccardThreshold = 0.5).persist()
    val results = Seq(
      // gate-scale levers, 10× the corpus: the banded join must stay
      // bucket-bound (shuffle bytes ~linear in docs, not quadratic)
      probe("d05_minhash_dups") {
        pairs.count() // materializes the persisted join — timed = the join
      },
      // pointer jumping must converge in O(log diameter) rounds — THROWS
      // on non-convergence, so completing IS the certification
      probe("d09_dup_clusters") {
        GraphOps.connectedComponents(pairs.select(col("a"), col("b"))).count()
      },
      // d08's levers (16-bit bands, Hamming ≤ 3): the band join must stay
      // bucket-bound at 10× the docs, as d05's does
      probe("d08_simhash_dups") {
        TextOps.simhashNearDups(docs, "doc_id", "text", maxHamming = 3,
          bandBits = 16).count()
      },
      // gate levers (16 cells) vs sqrt(n)-scaled levers (~128 cells):
      // the scale path keeps per-query scanned fraction ≈ nprobe/cells
      probe("e02_ann_ivf_cells16") {
        val model = VectorOps.trainIvf(emb, "vec_id", "embedding", numCells = 16)
        val cells = VectorOps.assignCells(emb, "vec_id", "embedding", model)
        VectorOps.ivfTopK(cells, emb.filter(col("vec_id") < 3), "vec_id",
          "embedding", model, k = 5, nprobe = 2).count()
      },
      probe("e02_ann_ivf_cells128") {
        val model = VectorOps.trainIvf(emb, "vec_id", "embedding", numCells = 128)
        val cells = VectorOps.assignCells(emb, "vec_id", "embedding", model)
        VectorOps.ivfTopK(cells, emb.filter(col("vec_id") < 3), "vec_id",
          "embedding", model, k = 5, nprobe = 16).count()
      },
    )
    pairs.unpersist()

    val qs = results.map { case (n, sec, b, rows) =>
      f""""$n":{"sec":$sec%.3f,"shuffle_bytes":$b,"rows":$rows}"""
    }.mkString("{", ",", "}")
    val (controlCpuSec, controlEff) =
      Bench.cpuControl(scala.util.Try(cpus.toInt).getOrElse(32))
    val line =
      s"""{"metric":"scale_probe","docs":$nDocs,"vecs":$nVecs,"reps":$reps,""" +
        f""""queries":$qs,"control_cpu_sec":$controlCpuSec%.3f,"control_eff":$controlEff%.3f}"""
    Bench.emitFinalLine(line)
    spark.stop()
  }
}
