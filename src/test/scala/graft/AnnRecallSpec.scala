package graft

import graft.operators.Ann
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Recall gate for the parameterized AND-OR banded LSH ANN: against
  * brute-force cosine top-5, the 8-band × 2-bit config must reach
  * recall ≥ 0.9 while actually pruning (candidate fraction < 1).
  * (Measured 0.96 after the mod-29 plane-family fix gave all 16 planes
  * genuine independence — the old mod-13 family reused planes 1..3 as
  * 14..16 and sat lower; the 0.9 floor locks the repaired headroom.)
  *
  * Everything is deterministic (integer-weight planes, Det-rounded sims,
  * id tiebreaks), so the asserted numbers are stable, not flaky. Note the
  * fixture embeddings are weakly clustered (best neighbor cosine ≈ 0.4),
  * which is the hard case for LSH — on real clustered embeddings the same
  * band config prunes far more at the same recall.
  */
class AnnRecallSpec extends AnyFunSuite with SparkSuite {

  test("banded ANN (8x2) recall >= 0.9 vs brute force, with real pruning") {
    val emb = Tables(spark, sf, "embeddings")
    val nCorpus = emb.count()
    val nQueries = 10L

    // ground truth: brute-force top-5 (the q_simsearch operator itself)
    val brute = SparkEntry.queries("q_simsearch")(spark, sf)
      .select(col("q_id"), col("vec_id"))
    val k = 5

    val ann = Ann.topK(emb, _ < nQueries, k = k, nBands = 8, bits = 2)
      .select(col("q_id"), col("vec_id"))

    val nTruth = brute.count()
    assert(nTruth === nQueries * k)
    val hits = brute.join(ann, Seq("q_id", "vec_id"), "left_semi").count()
    val recall = hits.toDouble / nTruth
    assert(recall >= 0.9, s"recall $recall = $hits/$nTruth")

    // the candidate set must be a real subset of the cross product —
    // banding prunes even on this weakly-clustered fixture
    val nCand = Ann.candidates(Ann.prep(emb), _ < nQueries,
      nBands = 8, bits = 2).count()
    val frac = nCand.toDouble / (nQueries * (nCorpus - 1))
    assert(frac < 0.95, s"candidate fraction $frac")
    assert(nCand > 0)
  }
}
