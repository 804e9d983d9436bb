package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Focused r7-optimization regression tests: each pins an internals rewrite
  * against the formulation it replaced (guide §1 — prove equivalence, then
  * keep the faster shape).
  */
class R7RewriteSpec extends SparkSpec {
  import spark.implicits._

  test("bandBucketPairs equals the band self-join, incl. duplicate ids and a large bucket") {
    // (id, band, hash) rows: one 40-id bucket (pair blow-up shape), two
    // overlapping buckets in different bands (cross-band dedup is the
    // caller's distinct — here we compare raw pair sets), a duplicate id
    // in one bucket (must NOT self-pair), and a singleton bucket
    val rows =
      (0L until 40L).map(i => (i, 0, 100L)) ++
      Seq((1L, 1, 200L), (2L, 1, 200L), (3L, 1, 200L)) ++
      Seq((7L, 2, 300L), (7L, 2, 300L), (8L, 2, 300L)) ++
      Seq((99L, 3, 400L))
    val banded = rows.toDF("doc_id", "band", "bhash")
    val viaBuckets = TextOps.bandBucketPairs(banded, "doc_id", "band", "bhash")
      .as[(Long, Long)].collect().toSet
    val viaJoin = banded.alias("l")
      .join(banded.alias("r"),
        col("l.band") === col("r.band") && col("l.bhash") === col("r.bhash") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id"), col("r.doc_id"))
      .distinct().as[(Long, Long)].collect().toSet
    assert(viaBuckets == viaJoin, s"bucket pairs != join pairs")
    // the band-1/band-2 pairs are subsets of the 40-bucket's pair set, so
    // the global distinct leaves exactly C(40,2)
    assert(viaBuckets.size == 40 * 39 / 2, s"got ${viaBuckets.size}")
    assert(!viaBuckets.contains((7L, 7L)), "duplicate id must not self-pair")
  }

  test("simhashNearDups output is band-width invariant (the d08 bandBits=16 lever)") {
    // corpus with an exact dup, a NONZERO-hamming near-dup and unrelated
    // docs: recall is total by pigeonhole at every legal width, so the
    // verified output must be IDENTICAL across bandBits. The near-dup is
    // picked SELF-VALIDATINGLY: scan single-token variants of `base` and
    // take the first whose reference-simhash hamming lands in 1..3 — the
    // fixture premise is asserted, not hoped for (a literal
    // base.replace("word3", ...) would also hit word30-39 and overshoot).
    val base = (0 until 60).map(i => s"tok$i word$i item$i").mkString(" ")
    val h0 = TextOps.simhashReference(base)
    val near = (0 until 60).iterator
      .map(i => base.split(" ", -1).updated(3 * i, s"tok${i}x").mkString(" "))
      .find { t =>
        val d = java.lang.Long.bitCount(h0 ^ TextOps.simhashReference(t))
        d >= 1 && d <= 3
      }
    assert(near.isDefined, "fixture: no single-token variant lands in hamming 1..3")
    val nearHam = java.lang.Long.bitCount(h0 ^ TextOps.simhashReference(near.get))
    val docs = Seq(
      0L -> base, 1L -> base, 2L -> near.get,
      3L -> (0 until 60).map(i => s"other$i thing$i").mkString(" "),
    ).toDF("doc_id", "text")
    def run(bits: Int) =
      TextOps.simhashNearDups(docs, "doc_id", "text", maxHamming = 3, bandBits = bits)
        .as[(Long, Long, Int)].collect().toSet
    val at8 = run(8)
    assert(run(16) == at8, "16-bit bands must produce the 8-bit output")
    assert(at8.contains((0L, 1L, 0)), s"exact dup pair missing: $at8")
    assert(at8.contains((0L, 2L, nearHam)) && at8.contains((1L, 2L, nearHam)),
      s"nonzero-hamming pair (ham=$nearHam) missing: $at8")
  }

  test("cosineNearDups bucket-group path equals a brute-force cosine check") {
    val vecs = Seq(
      0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(0.999f, 0.04f, 0f, 0f),
      2L -> Array(0f, 1f, 0f, 0f), 3L -> Array(0f, 0f, 1f, 0f),
    ).toDF("vec_id", "embedding")
    val got = VectorOps.cosineNearDups(vecs, "vec_id", "embedding", threshold = 0.95)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 1L)), s"got $got")
  }

  test("toMiTransfers: singleton conversation yields null sending supplier (ANSI element_at)") {
    val ev = Seq(
      ("conv-a", "e1", "EHR_REQUESTED", "2024-01-01 10:00:00", "sysA", "2024-01-01 10:00:00", 1L),
      ("conv-b", "e2", "EHR_REQUESTED", "2024-01-01 10:00:00", "sysB", "2024-01-01 10:00:00", 1L),
      ("conv-b", "e3", "EHR_VALIDATED", "2024-01-01 11:00:00", "sysC", "2024-01-01 11:00:00", 2L),
    ).toDF("conversationId", "eventId", "eventType", "eventGeneratedDateTime",
      "reportingSystemSupplier", "transferEventDateTime", "seq")
      .withColumn("payload", lit(null).cast(graft.mi.MiPipeline.payloadSchema))
    val rows = graft.mi.MiPipeline.toMiTransfers(ev)
      .select("conversation_id", "requesting_supplier", "sending_supplier")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(rows("conv-a") == (("sysA", null)), s"singleton: ${rows("conv-a")}")
    assert(rows("conv-b") == (("sysB", "sysC")), s"pair: ${rows("conv-b")}")
  }
}
