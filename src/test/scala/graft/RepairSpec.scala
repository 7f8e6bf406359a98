package graft

import graft.operators.{AnnIndex, BqIndex, IndexFamily, IvfIndex, PqIndex,
  SqIndex, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** repair() — closing the fsck loop (r15, VERDICT item 1): fsck NAMES
  * violations; repair maps each class to its existing heal, under the
  * build lock, idempotently. The contract gated here:
  *   - each injected corruption class ends HEALTHY after ONE repair()
  *     call (fsck empty, probes equal an uncorrupted twin);
  *   - a clean family is a no-op (Nil, nothing mutated);
  *   - a violation with no safe heal refuses loudly BEFORE touching
  *     anything (default-refuse: unknown classes are never guessed
  *     at).
  */
class RepairSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()
  private def emb = Tables(spark, sf, "embeddings")

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("doc_id", "text")
  }

  test("BM25: stats drift heals in one repair() call") {
    val t = s"rp_bm25_p$pid"
    val all = Seq(t, s"${t}_stats", s"${t}_del", s"${t}_del_stage")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(docsDf(Seq(
        1L -> "spark join window", 2L -> "hash scan merge",
        3L -> "window fast data")), t, s"${t}_stats")
      val good = spark.table(s"${t}_stats")
        .select("n_docs", "sum_dl").collect()(0)
      // inject drift: the stored stats lie
      Seq((99L, 9999L)).toDF("n_docs", "sum_dl")
        .write.mode("overwrite").saveAsTable(s"${t}_stats")
      assert(TextOps.bm25Family(t).fsck(spark).nonEmpty)
      val fixed = TextOps.bm25Family(t).repair(spark)
      assert(fixed.exists(_.contains("stats")), fixed.toString)
      assert(TextOps.bm25Family(t).fsck(spark) === Nil)
      assert(spark.table(s"${t}_stats")
        .select("n_docs", "sum_dl").collect()(0) === good)
      // idempotent: the healed family is a clean no-op
      assert(TextOps.bm25Family(t).repair(spark) === Nil)
    } finally drop(all: _*)
  }

  test("BM25: a lost barrier (double live generation) heals in one " +
      "repair() — newest content survives, stats recomputed") {
    val t = s"rp_bm25g_p$pid"
    val t2 = s"rp_bm25g_twin_p$pid"
    val all = Seq(t, s"${t}_stats", s"${t}_del", s"${t}_del_stage",
      t2, s"${t2}_stats")
    drop(all: _*)
    try {
      val v1 = docsDf(Seq(1L -> "spark join window",
        2L -> "hash scan merge", 3L -> "window fast data"))
      val newer = docsDf(Seq(2L -> "stream order customer"))
      TextOps.appendBm25Postings(v1, t, s"${t}_stats")
      // inject the lost-barrier state: doc 2's replacement rows landed
      // at gen 2 but the barrier entry never committed — TWO live
      // generations, and the stats double-count the doc
      TextOps.appendBm25Postings(newer, t, s"${t}_stats", gen = 2L)
      val v = TextOps.bm25Family(t).fsck(spark)
      assert(v.exists(_.contains("live generations")), v.toString)
      val fixed = TextOps.bm25Family(t).repair(spark)
      assert(fixed.exists(_.contains("re-barriered")), fixed.toString)
      assert(TextOps.bm25Family(t).fsck(spark) === Nil)
      // the repaired family equals a from-scratch build over the
      // FINAL content (v1 with doc 2 replaced) — scores AND stats
      val fin = v1.filter(col("doc_id") =!= 2L).unionByName(newer)
      TextOps.appendBm25Postings(fin, t2, s"${t2}_stats")
      val sp = spark
      import sp.implicits._
      val qt = Seq((1, "window"), (1, "spark"), (2, "stream"))
        .toDF("q_id", "token")
      def scores(pt: DataFrame, st: DataFrame) =
        TextOps.bm25ScoreIncr(qt, pt, st).collect()
          .map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2))).toMap
      val (lp, ls) = TextOps.liveBm25(spark, t, s"${t}_stats")
      val want = scores(spark.table(t2), spark.table(s"${t2}_stats"))
      assert(scores(lp, ls) === want)
      assert(want.nonEmpty)
      assert(spark.table(s"${t}_stats")
        .select("n_docs", "sum_dl").collect()(0) ===
        spark.table(s"${t2}_stats")
          .select("n_docs", "sum_dl").collect()(0))
      assert(TextOps.bm25Family(t).repair(spark) === Nil)
    } finally drop(all: _*)
  }

  test("ANN: band-count corruption (duplicate AND total loss) heals " +
      "by rebuilding from the payload member") {
    val a = s"rp_ann_p$pid"
    val a2 = s"rp_ann_twin_p$pid"
    val tmp = s"${a}_tmp"
    val all = Seq(a, s"${a}_vec", s"${a}_cfg", s"${a}_del",
      s"${a}_compact", s"${a}_old", tmp,
      a2, s"${a2}_vec", s"${a2}_cfg")
    drop(all: _*)
    try {
      AnnIndex.write(emb, a, nBands = 4, bits = 2)
      AnnIndex.write(emb, a2, nBands = 4, bits = 2)
      // corruption 1: duplicate one band row (5 rows against cfg 4)
      val one = spark.table(a).limit(1).collect()
      spark.createDataFrame(
          spark.sparkContext.parallelize(one.toIndexedSeq),
          spark.table(a).schema)
        .write.mode("append")
        .bucketBy(8, "band_key").sortBy("band_key")
        .saveAsTable(a)
      // corruption 2: TOTAL band loss for one live vector
      val victim = spark.table(s"${a}_vec")
        .filter(col("v").isNotNull).select("vec_id").head().getLong(0)
      spark.table(a).filter(col("vec_id") =!= victim)
        .write.bucketBy(8, "band_key").sortBy("band_key")
        .saveAsTable(tmp)
      spark.sql(s"DROP TABLE $a")
      spark.sql(s"ALTER TABLE $tmp RENAME TO $a")
      assert(AnnIndex.family(a).fsck(spark).nonEmpty)
      val fixed = AnnIndex.family(a).repair(spark)
      assert(fixed.exists(_.contains("rebuilt band")), fixed.toString)
      assert(AnnIndex.family(a).fsck(spark) === Nil)
      // the repaired index probes identically to the untouched twin
      def probe(t: String) =
        AnnIndex.topK(spark, t, c => c < 3, k = 4).collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val got = probe(a)
      assert(got === probe(a2))
      assert(got.nonEmpty)
      assert(AnnIndex.family(a).repair(spark) === Nil)
    } finally drop(all: _*)
  }

  test("IVF: rows routed to an unknown cell heal by re-assignment " +
      "with the stored quantizer") {
    val t = s"rp_ivf_p$pid"
    val t2 = s"rp_ivf_twin_p$pid"
    val tmp = s"${t}_tmp"
    val all = Seq(t, s"${t}_cent", s"${t}_del", s"${t}_compact",
      s"${t}_old", tmp, t2, s"${t2}_cent")
    drop(all: _*)
    try {
      IvfIndex.write(emb, t, k = 4)
      IvfIndex.write(emb, t2, k = 4)
      // corrupt: re-route two vectors to a cell the quantizer lacks
      spark.table(t)
        .withColumn("cell", when(col("vec_id").isin(3L, 8L), lit(999))
          .otherwise(col("cell")))
        .write.bucketBy(8, "cell").sortBy("cell").saveAsTable(tmp)
      spark.sql(s"DROP TABLE $t")
      spark.sql(s"ALTER TABLE $tmp RENAME TO $t")
      val v = IvfIndex.family(t).fsck(spark)
      assert(v.exists(_.contains("unknown cell")), v.toString)
      val fixed = IvfIndex.family(t).repair(spark)
      assert(fixed.exists(_.contains("re-assigned")), fixed.toString)
      assert(IvfIndex.family(t).fsck(spark) === Nil)
      def probe(x: String) =
        IvfIndex.topK(spark, x, c => c < 3, k = 4).collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
      val got = probe(t)
      assert(got === probe(t2))
      assert(got.nonEmpty)
      assert(IvfIndex.family(t).repair(spark) === Nil)
    } finally drop(all: _*)
  }

  test("band + SQ: a lost barrier heals by re-barriering at the " +
      "top live generation") {
    val bd = s"rp_band_p$pid"
    val sq = s"rp_sq_p$pid"
    val all = Seq(bd, s"${bd}_del", sq, s"${sq}_cfg", s"${sq}_del")
    drop(all: _*)
    try {
      val docs = Tables(spark, sf, "documents")
      val d1 = docs.filter(col("doc_id") < 50)
      TextOps.writeBandIndex(d1, bd)
      // replacement rows at gen 2, barrier lost
      TextOps.appendBandIndex(docs.filter(col("doc_id") === 10L), bd,
        gen = 2L)
      assert(TextOps.bandFamily(bd).fsck(spark).nonEmpty)
      val fixed = TextOps.bandFamily(bd).repair(spark)
      assert(fixed.exists(_.contains("re-barriered")), fixed.toString)
      assert(TextOps.bandFamily(bd).fsck(spark) === Nil)
      // exactly one live copy of the id's postings remains
      assert(TextOps.liveBandIndex(spark, bd)
        .filter(col("old_id") === 10L)
        .select("gen").distinct().count() === 1L)
      assert(TextOps.bandFamily(bd).repair(spark) === Nil)

      SqIndex.write(emb, sq)
      SqIndex.append(emb.filter(col("vec_id") === 5L), sq, gen = 3L)
      assert(SqIndex.family(sq).fsck(spark).nonEmpty)
      assert(SqIndex.family(sq).repair(spark)
        .exists(_.contains("re-barriered")))
      assert(SqIndex.family(sq).fsck(spark) === Nil)
      assert(SqIndex.family(sq).repair(spark) === Nil)
    } finally drop(all: _*)
  }

  test("clean families are no-ops; unhealable violations refuse " +
      "loudly before touching anything") {
    val docs = Tables(spark, sf, "documents").filter(col("doc_id") < 50)
    // one row per descriptor: (table, its build, the family, the
    // sidecar whose loss has no safe heal — None for the two document
    // families, every violation class of which has a heal)
    val cases: Seq[(String, String => Unit, String => IndexFamily,
        Option[String])] = Seq(
      ("ann", AnnIndex.write(emb, _, nBands = 4, bits = 2),
        AnnIndex.family, Some("_cfg")),
      ("pq", PqIndex.write(emb, _, m = 4, subDim = 16, ks = 8),
        PqIndex.family, Some("_cb")),
      ("ivf", IvfIndex.write(emb, _, k = 4), IvfIndex.family,
        Some("_cent")),
      ("bq", BqIndex.write(emb, _), BqIndex.family, Some("_cfg")),
      ("sq", SqIndex.write(emb, _), SqIndex.family, Some("_cfg")),
      ("bm25", t => TextOps.appendBm25Postings(docs, t, s"${t}_stats"),
        TextOps.bm25Family, None),
      ("band", TextOps.writeBandIndex(docs, _), TextOps.bandFamily, None))
    cases.foreach { case (kind, build, family, sidecar) =>
      val t = s"rp_ref_${kind}_p$pid"
      val all = t +: Seq("_vec", "_cfg", "_cb", "_cent", "_stats", "_del")
        .map(t + _)
      drop(all: _*)
      try {
        build(t)
        assert(family(t).repair(spark) === Nil, kind)
        // no safe heal: the sidecar vanishes — repair must refuse, not
        // guess a config, codebook or quantizer
        sidecar.foreach { suffix =>
          spark.sql(s"DROP TABLE $t$suffix")
          val rows = spark.table(t).count()
          val e = intercept[IllegalStateException] {
            family(t).repair(spark)
          }
          assert(e.getMessage.contains("no safe heal") &&
            e.getMessage.contains(s"$t$suffix missing"), e.getMessage)
          assert(spark.table(t).count() === rows, kind)
        }
      } finally drop(all: _*)
    }
  }
}
