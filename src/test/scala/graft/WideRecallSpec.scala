package graft

import graft.operators.Ann
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AnnRecallSpec's ≥ 0.9 gate extended to the wide dims (r14, VERDICT
  * item 3): the WideDimSpec fixtures proved the machinery RUNS at dim
  * 128 and 768; this proves the banding still FINDS the neighbors
  * there. A width-scaling hazard is built into the plane family:
  * w(p, i) is periodic in i with period 29 (the modulus), so every
  * plane acts on the 29-bucket folded sums of the vector — at dim 768
  * the 16 planes all live in a 29-dimensional projection. The gate
  * holds because LSH recall depends on the angle between a query and
  * its neighbors, which the folded projection preserves for any
  * corpus whose neighbor structure is not adversarially concentrated
  * in the fold's kernel; the spec pins that this stays true for a
  * deterministic weakly-clustered fixture (the hard LSH case — see
  * AnnRecallSpec). If a future corpus defeats the fold, the
  * documented scaling rule applies: raise the modulus to a prime
  * > max(nBands·bits, dim) with (37 + 11i) % modulus != 0 for
  * i < dim, which restores genuine per-coordinate independence.
  */
class WideRecallSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  /** The WideDimSpec deterministic corpus, minus the degenerate pair
    * (NULL / zero vectors score the sentinel everywhere — recall over
    * them measures tiebreaks, not banding). */
  private def corpus(dim: Int, n: Int = 96): DataFrame = {
    val sp = spark
    import sp.implicits._
    (0L until n.toLong)
      .filter(id => id != 7L && id != 11L)
      .map { id =>
        (id, (0 until dim).map(j =>
          (((id * 31 + j * 17 + id * j) % 23) - 11).toDouble))
      }.toDF("vec_id", "embedding")
  }

  /** Deterministic CLUSTERED corpus for the IVF leg — cell routing
    * only helps when neighbor structure co-locates, so its recall
    * gate needs a corpus with genuine clusters: 4 well-separated
    * centers (coordinate magnitude ~27) plus small per-id noise
    * (~0.6), cluster = id % 4. Same-cluster vectors are nearly
    * parallel; cross-cluster angles are large. */
  private def clustered(dim: Int, nClusters: Int = 4,
      per: Int = 24): DataFrame = {
    val sp = spark
    import sp.implicits._
    (0L until (nClusters * per).toLong).map { id =>
      val c = (id % nClusters).toInt
      (id, (0 until dim).map { j =>
        (((c * 37 + j * 13) % 19) - 9) * 3.0 +
          (((id * 31 + j * 17 + id * j) % 7) - 3) * 0.2
      })
    }.toDF("vec_id", "embedding")
  }

  /** Brute-force ground truth with the library's exact sentinel
    * cosine (Det-rounded, zero-norm → -1, id tiebreaks). */
  private def bruteTopK(emb: DataFrame, dim: Int,
      isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      k: Int): DataFrame = {
    val e = Ann.prep(emb, dim)
    val q = e.filter(isQ(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val sim = when(col("nrm") > lit(0d) && col("qn") > lit(0d),
      Det.rnd(expr("graft_dot(v, qv)") / (col("nrm") * col("qn")), 6))
      .otherwise(lit(-1.0d))
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", sim)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("q_id", "vec_id")
  }

  for (dim <- Seq(128, 768)) {
    test(s"dim $dim: banded ANN (8x2) recall >= 0.9 vs brute force, real pruning") {
      val emb = corpus(dim)
      val nCorpus = emb.count()
      val k = 5
      val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        _ < 10L
      val nQueries = 9L // ids 0-9 minus the excluded degenerate 7

      val brute = bruteTopK(emb, dim, isQ, k)

      val ann = Ann.topK(emb, isQ, k = k, nBands = 8, bits = 2,
        dim = dim).select(col("q_id"), col("vec_id"))

      val nTruth = brute.count()
      assert(nTruth === nQueries * k)
      val hits = brute.join(ann, Seq("q_id", "vec_id"), "left_semi")
        .count()
      val recall = hits.toDouble / nTruth
      assert(recall >= 0.9, s"dim $dim recall $recall = $hits/$nTruth")

      // banding must still PRUNE — recall 1.0 via candidates ≈ all
      // pairs would be a vacuous gate
      val nCand = Ann.candidates(Ann.prep(emb, dim), isQ,
        nBands = 8, bits = 2, dim = dim).count()
      val frac = nCand.toDouble / (nQueries * (nCorpus - 1))
      assert(frac < 0.95, s"dim $dim candidate fraction $frac")
      assert(nCand > 0)
    }
  }

  /** The FOLD-DEFEATING fixture (r15, VERDICT item 3): a corpus whose
    * neighbor structure is concentrated in the kernel of the old
    * fixed-29 modulus's i-period fold. Each vector = K_id + ε·e0,
    * where K_id is a large pseudo-random vector whose 29-residue
    * class sums are ALL ZERO (members of each class paired +a/−a) and
    * ε·e0 a tiny non-kernel nudge. Under modulus 29 every plane sees
    * only the folded sums, so dot(w_p, K + ε·e0) = ε·w_p(0): the
    * true-neighbor pair (K + ε·e0, K − ε·e0) — cosine ≈ 1 — flips
    * EVERY sign bit and never collides on any band, while half the
    * corpus (same ε sign, unrelated K) collides on every band. The
    * derived modulus has period > dim, so the planes see the actual
    * coordinates, K dominates, and the pair collides. */
  private def foldKernelCorpus(dim: Int, nPairs: Int): DataFrame = {
    val sp = spark
    import sp.implicits._
    def kernel(seed: Long): Array[Double] = {
      val v = new Array[Double](dim)
      for (r <- 0 until 29) {
        val members = (r until dim by 29).toArray
        var idx = 0
        while (idx + 1 < members.length) {
          // mixed 64-bit hash — a small-modulus formula here would be
          // periodic in the seed and alias distinct ids' kernels
          val h = (seed * 6364136223846793005L +
            members(idx) * 1442695040888963407L) >>> 33
          val a = (h % 13L + 3L).toDouble
          v(members(idx)) = a
          v(members(idx + 1)) = -a
          idx += 2
        }
      }
      v
    }
    (0L until nPairs.toLong).flatMap { q =>
      val k = kernel(q)
      val plus = k.clone(); plus(0) += 0.5
      val minus = k.clone(); minus(0) -= 0.5
      Seq((q, plus.toSeq), (q + 100L, minus.toSeq))
    }.toDF("vec_id", "embedding")
  }

  test("dim 768: the fold-defeating corpus — the old fixed-29 modulus " +
      "loses every true pair; the derived modulus finds them") {
    val dim = 768
    val nPairs = 16
    val emb = foldKernelCorpus(dim, nPairs)
    val isQ: org.apache.spark.sql.Column =>
      org.apache.spark.sql.Column = _ < nPairs.toLong

    // ground truth: each query's rank-1 neighbor is its partner
    val brute = bruteTopK(emb, dim, isQ, k = 1)
    val truth = brute.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(truth.length === nPairs)
    assert(truth.forall { case (q, n) => n == q + 100L },
      s"fixture broken: ${truth.mkString(",")}")

    // band-collision candidate sets under each modulus
    def candPairs(modulus: Int): Set[(Long, Long)] = {
      val banded = Ann.prep(emb, dim).withColumn("bands",
        Ann.bandKeys(col("v"), 8, 2, dim, modulus = modulus))
      val c = banded.select(col("vec_id"), posexplode(col("bands")))
        .toDF("vec_id", "band_idx", "band_key")
      val q = c.filter(col("vec_id") < nPairs.toLong)
        .toDF("q_id", "q_band_idx", "q_band_key")
      c.join(broadcast(q), col("band_idx") === col("q_band_idx") &&
          col("band_key") === col("q_band_key") &&
          col("vec_id") =!= col("q_id"))
        .select("q_id", "vec_id").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    // THE PROOF the rule is load-bearing: under the old fixed 29,
    // not one true pair survives banding — recall 0, against 0.9
    val old = candPairs(29)
    val oldHits = truth.count(old.contains)
    assert(oldHits.toDouble / nPairs < 0.9,
      s"fixed-29 unexpectedly found $oldHits/$nPairs — fixture no " +
        "longer adversarial")
    assert(oldHits === 0, s"$oldHits")
    // ...and the derived modulus (the production path) finds them all
    val derived = candPairs(0)
    val newHits = truth.count(derived.contains)
    assert(newHits.toDouble / nPairs >= 0.9,
      s"derived modulus found only $newHits/$nPairs")
    // end-to-end: the production topK (derived path) returns the
    // partner as every query's rank-1 neighbor
    val ann = Ann.topK(emb, isQ, k = 1, nBands = 8, bits = 2,
      dim = dim).select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.count(ann.contains).toDouble / nPairs >= 0.9,
      ann.toString)
  }

  for (dim <- Seq(128, 768)) {
    test(s"dim $dim: IVF (k=4, nprobe=2) recall >= 0.9 vs brute force " +
        "on a clustered corpus") {
      val t = s"wr_ivf_${dim}_p$pid"
      val all = Seq(t, s"${t}_cent", s"${t}_del")
      all.foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
      try {
        val emb = clustered(dim)
        val k = 5
        val isQ: org.apache.spark.sql.Column =>
          org.apache.spark.sql.Column = _ < 8L // 2 queries per cluster
        graft.operators.IvfIndex.write(emb, t, k = 4, dim = dim)
        val brute = bruteTopK(emb, dim, isQ, k)
        val nTruth = brute.count()
        assert(nTruth === 8L * k)
        val got = graft.operators.IvfIndex
          .topKMultiProbe(spark, t, isQ, k = k, nprobe = 2)
          .select("q_id", "vec_id")
        val hits = brute.join(got, Seq("q_id", "vec_id"), "left_semi")
          .count()
        val recall = hits.toDouble / nTruth
        assert(recall >= 0.9, s"dim $dim IVF recall $recall")
        // the quantizer genuinely separates the corpus: no empty cells
        // and no single cell swallowing everything (which would make
        // the recall gate vacuous — routing would never prune)
        val cellSizes = spark.table(t).groupBy("cell").count()
          .collect().map(_.getLong(1))
        assert(cellSizes.length === 4, cellSizes.mkString(","))
        assert(cellSizes.max < emb.count(), "one cell holds the corpus")
      } finally all.foreach(x =>
        spark.sql(s"DROP TABLE IF EXISTS $x"))
    }
  }
}
