package graft

import graft.operators.{Ann, AnnIndex, BqIndex, IvfIndex, PqIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Recall gates for the quantized/compressed retrieval family — the
  * AnnRecallSpec discipline extended down the compression ladder: each
  * approximate probe must hold a measured recall floor against
  * brute-force cosine top-5, so a quantization regression (codebook
  * drift, signature bug, cell mis-assignment) fails CI as a QUALITY
  * loss even when it stays self-consistent (the oracle hash gates
  * prove the arithmetic, not the retrieval quality). Everything is
  * deterministic — the asserted numbers are stable, not flaky.
  */
class QuantRecallSpec extends AnyFunSuite with SparkSuite {

  private val k = 5
  private val nQueries = 10L

  private def truth() = SparkEntry.queries("q_simsearch")(spark, sf)
    .select(col("q_id"), col("vec_id"))

  private def recallOf(approx: org.apache.spark.sql.DataFrame): Double = {
    val t = truth()
    val n = t.count()
    assert(n === nQueries * k)
    t.join(approx.select(col("q_id"), col("vec_id")),
      Seq("q_id", "vec_id"), "left_semi").count().toDouble / n
  }

  test("BQ Hamming+rerank recall: floor holds, deeper rerank monotone") {
    val bq = BqIndex.bqIndex(spark, sf)
    val vecs = AnnIndex.annIndex(spark, sf) + "_vec"
    def r(c: Int) = recallOf(
      BqIndex.topK(spark, bq, vecs, _ < nQueries, k = k, c = c))
    val r20 = r(20)
    val r50 = r(50)
    info(s"bq recall: C=20 -> $r20, C=50 -> $r50")
    // measured 0.40 at the default C=20 on this near-random fixture —
    // 1-bit signatures genuinely cannot separate cosine-0.4 neighbors;
    // the floor locks the measured value as a regression tripwire
    assert(r20 >= 0.4, s"recall $r20")
    // provable monotonicity: Hamming top-50 ⊇ top-20, and the exact
    // rerank's top-k over a candidate SUPERSET can only gain truth
    // vectors (at most 4 vectors globally out-cosine a true top-5
    // member, so none can be displaced by enlarging the pool) — the
    // rerank-depth dial is guaranteed not to hurt
    assert(r50 >= r20, s"C=50 $r50 < C=20 $r20")
    assert(r50 >= 0.6, s"recall $r50")
  }

  test("PQ ADC recall vs brute force") {
    val q = Ann.prep(Tables(spark, sf, "embeddings")
        .filter(col("vec_id") < nQueries))
      .select(col("vec_id"), col("v"))
    val r = recallOf(
      PqIndex.topK(spark, PqIndex.pqIndex(spark, sf), q, k = k))
    info(s"pq recall = $r")
    // measured 0.24: 8 subspaces x 16 centroids trained on 500
    // near-random vectors is the hard case for PQ (real embedding
    // corpora cluster, codebooks carry far more signal); the floor is
    // a regression tripwire for the train/encode/ADC pipeline, not a
    // quality claim — production deployments re-rank ADC shortlists
    // exactly like BqIndex.topK does
    assert(r >= 0.2, s"recall $r")
  }

  test("IVF multi-probe recall >= single-cell recall") {
    val t = IvfIndex.ivfIndex(spark, sf)
    val single = recallOf(IvfIndex.topK(spark, t, _ < nQueries, k = k))
    val multi = recallOf(
      IvfIndex.topKMultiProbe(spark, t, _ < nQueries, k = k, nprobe = 2))
    info(s"ivf single = $single, multi = $multi")
    assert(multi >= single, s"multi $multi < single $single")
    assert(multi >= 0.3, s"multi-probe recall $multi")
  }
}
