package graft

import graft.operators.{IvfIndex, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF quantizer refresh (the [[PqRefreshSpec]] sibling): appends
  * under a frozen quantizer are correct but the cell centers go stale
  * as the ingest distribution drifts — new vectors land in far-away
  * nearest cells and probe recall decays silently. The library ships
  * the same two pieces PQ got: a drift gauge
  * ([[IvfIndex.quantizationError]]: mean 1−cos(v, assigned centroid)
  * over the STORED assignments — no external vectors needed, the
  * cells table retains `v`) and a retrain-and-swap maintenance op
  * ([[IvfIndex.refresh]], atomic swapIndexTables under the build
  * lock, k and dim inherited from the stored centroids).
  */
class IvfRefreshSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  /** Training population: small integer coordinates in [-11, 11]. */
  private def popA: DataFrame = {
    val sp = spark
    import sp.implicits._
    (0L until 60L).map { id =>
      (id, Some((0 until 64).map(j =>
        (((id * 31 + j * 17 + id * j) % 23) - 11).toDouble)),
        "a")
    }.toDF("vec_id", "embedding", "label")
  }

  /** Drifted population: scaled + shifted far outside A's coordinate
    * range, so A-trained centroids are all far from it. */
  private def popB: DataFrame = {
    val sp = spark
    import sp.implicits._
    (100L until 140L).map { id =>
      (id, Some((0 until 64).map(j =>
        ((((id * 13 + j * 29) % 17) - 8) * 7 + 40).toDouble)),
        "b")
    }.toDF("vec_id", "embedding", "label")
  }

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("drift raises the error gauge; refresh lowers it and equals a rebuild") {
    val t = s"ivfr_p$pid"
    val t2 = s"ivfr_scratch_p$pid"
    val all = Seq(t, s"${t}_cent", s"${t}_cent_compact", s"${t}_compact",
      s"${t}_old", s"${t}_cent_old", t2, s"${t2}_cent")
    drop(all: _*)
    try {
      IvfIndex.write(popA, t, k = 8)
      val e0 = IvfIndex.quantizationError(spark, t)
      assert(e0 >= 0.0 && e0 < 1.0, s"e0=$e0")
      // drifted batch assigned under the FROZEN quantizer: the gauge
      // must move — this is the signal a user refreshes on
      IvfIndex.append(popB, t)
      val e1 = IvfIndex.quantizationError(spark, t)
      assert(e1 > e0, s"drift did not register: e0=$e0 e1=$e1")

      val union = popA.unionByName(popB)
      IvfIndex.refresh(union, t)
      val e2 = IvfIndex.quantizationError(spark, t)
      assert(e2 < e1, s"refresh did not help: e1=$e1 e2=$e2")

      // deterministic training ⇒ a refreshed index is BIT-IDENTICAL
      // to a from-scratch build over the same corpus — centroids,
      // assignments, and probe
      IvfIndex.write(union, t2, k = 8)
      def centRows(x: String) = spark.table(s"${x}_cent").collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).toMap
      assert(centRows(t) === centRows(t2))
      def cellRows(x: String) = spark.table(x).collect()
        .map(r => (r.getAs[Long]("vec_id"),
          (r.getAs[Int]("cell"), r.getAs[Double]("nrm")))).toMap
      assert(cellRows(t) === cellRows(t2))
      def probe(x: String) =
        IvfIndex.topK(spark, x, _ < 3, k = 3).collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
      assert(probe(t) === probe(t2))
      assert(probe(t).nonEmpty)
      // no maintenance leftovers under any of the swap names
      Seq(s"${t}_cent_compact", s"${t}_compact", s"${t}_old",
        s"${t}_cent_old").foreach(x =>
        assert(!spark.catalog.tableExists(x), x))
    } finally drop(all: _*)
  }

  test("a crashed refresh heals: stale tmps are rebuilt, mid-swap recovers") {
    val t = s"ivfr_crash_p$pid"
    val all = Seq(t, s"${t}_cent", s"${t}_cent_compact", s"${t}_compact",
      s"${t}_old", s"${t}_cent_old")
    drop(all: _*)
    try {
      val union = popA.unionByName(popB)
      IvfIndex.write(popA, t, k = 8)
      IvfIndex.append(popB, t)
      // crash state 1: died after writing the replacement centroids —
      // stale tmp tables must not poison the re-run
      spark.table(s"${t}_cent").write
        .saveAsTable(s"${t}_cent_compact")
      IvfIndex.refresh(union, t)
      assert(!spark.catalog.tableExists(s"${t}_cent_compact"))
      val healthy = IvfIndex.quantizationError(spark, t)
      // crash state 2: died between the cells-swap renames — the cells
      // table name unbound, the fresh copy stranded under _compact;
      // the next refresh's recoverSwap must restore it
      spark.sql(s"ALTER TABLE $t RENAME TO ${t}_compact")
      IvfIndex.refresh(union, t)
      assert(spark.catalog.tableExists(t))
      // tolerance, not ===: the gauge is an avg over doubles, whose
      // partition-combine order varies run to run
      assert(math.abs(IvfIndex.quantizationError(spark, t) - healthy)
        < 1e-9)
    } finally drop(all: _*)
  }

  test("stacked-suffix maintenance leftovers are sweepable (ownership regex)") {
    // a crashed process's _cb_compact / _cent_compact / *_old tmps
    // must match the dead-index ownership pattern or they leak forever
    val owned = TextOps.ownedIndexRe
    Seq(
      "graft_pq_idx_0123456789_p42_cb_compact",
      "graft_pq_idx_0123456789_p42_cb_old",
      "graft_ivf_idx_0123456789_p42_cent_compact",
      "graft_ivf_idx_0123456789_p42_cent_old",
      "graft_ivf_idx_0123456789_p42_compact",
      // the BM25 `_docs` member and its compaction tmp
      "graft_bm25_incr_0123456789_p42_docs",
      "graft_bm25_incr_0123456789_p42_docs_compact",
      // the delete-lifecycle siblings (r13): tombstone lists, the
      // group-swap intent marker
      "graft_bm25_incr_0123456789_p42_del",
      "graft_ann_idx_0123456789_p42_del",
      "graft_pq_idx_0123456789_p42_swap").foreach { n =>
      assert(owned.findFirstIn(n).isDefined, n)
    }
    // non-owned names must stay untouched
    Seq("graft_pq_idx_0123456789_p42_other",
      "user_table", "graft_pq_idx_p42").foreach { n =>
      assert(owned.findFirstIn(n).isEmpty, n)
    }
  }
}
