package graft

import graft.operators.{AnnIndex, BqIndex, IvfIndex, PqIndex, SqIndex, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** fsck (r14): the structural audit an operator runs against
  * production state after a crash or suspect migration — every
  * invariant the engine maintains incrementally, recomputed and
  * compared. Healthy families report NOTHING (the all-clear must be
  * silent); injected corruption of each class is named specifically.
  */
class FsckSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()
  private def emb = Tables(spark, sf, "embeddings")

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("healthy families (including post-delete) report no violations") {
    val b = s"fs_bm25_p$pid"
    val a = s"fs_ann_p$pid"
    val q = s"fs_bq_p$pid"
    val sq = s"fs_sq_p$pid"
    val p = s"fs_pq_p$pid"
    val iv = s"fs_ivf_p$pid"
    val all = Seq(b, s"${b}_docs", s"${b}_del", a, s"${a}_vec", s"${a}_cfg",
      s"${a}_del",
      q, s"${q}_cfg", s"${q}_del", sq, s"${sq}_cfg", s"${sq}_del",
      p, s"${p}_cb", s"${p}_del", iv, s"${iv}_cent", s"${iv}_del")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val docs = Seq((1L, "spark join window"), (2L, "hash scan merge"),
        (3L, "window window fast")).toDF("doc_id", "text")
      TextOps.appendBm25Postings(docs, b)
      // a real delete in the mix: the `_docs` rows must still match
      // the postings over the survivors
      TextOps.deleteBm25Docs(spark, b,
        Seq(3L).toDF("doc_id"))
      assert(TextOps.bm25Family(b).fsck(spark) === Nil)

      AnnIndex.write(emb, a, nBands = 4, bits = 2)
      AnnIndex.family(a).delete(spark, Seq(5L).toDF("vec_id"))
      assert(AnnIndex.family(a).fsck(spark) === Nil)
      BqIndex.write(emb, q)
      assert(BqIndex.family(q).fsck(spark) === Nil)
      SqIndex.write(emb, sq)
      assert(SqIndex.family(sq).fsck(spark) === Nil)
      PqIndex.write(emb, p, m = 4, subDim = 16, ks = 8)
      assert(PqIndex.family(p).fsck(spark) === Nil)
      IvfIndex.write(emb, iv, k = 4)
      assert(IvfIndex.family(iv).fsck(spark) === Nil)
      val bd = s"fs_band_p$pid"
      drop(bd, s"${bd}_del")
      try {
        TextOps.writeBandIndex(docs, bd)
        TextOps.upsertBandDocs(spark, bd,
          Seq((2L, "entirely rewritten text")).toDF("doc_id", "text"))
        assert(TextOps.bandFamily(bd).fsck(spark) === Nil)
      } finally drop(bd, s"${bd}_del")
      // a family that does not exist is silently healthy (nothing to
      // audit), not an error
      assert(TextOps.bm25Family(s"fs_none_p$pid").fsck(spark) === Nil)
    } finally drop(all: _*)
  }

  test("BM25: stats drift and a failed supersession are each named") {
    val b = s"fs_bad_bm25_p$pid"
    drop(b, s"${b}_docs", s"${b}_del")
    try {
      val sp = spark
      import sp.implicits._
      val docs = Seq((1L, "spark join window"), (2L, "hash scan merge"))
        .toDF("doc_id", "text")
      TextOps.appendBm25Postings(docs, b)
      // corrupt the `_docs` rows the stats derive from (a crash
      // between the two member writes leaves this — fsck must name it)
      Seq((1L, 99L, 0L)).toDF("doc_id", "dl", "gen").write
        .mode("overwrite").bucketBy(8, "doc_id").sortBy("doc_id")
        .saveAsTable(s"${b}_docs")
      val v1 = TextOps.bm25Family(b).fsck(spark)
      assert(v1.exists(_.contains("stats drift")), v1.toString)

      // a second live generation of doc 1 WITHOUT a barrier entry —
      // the supersession invariant every gen family shares
      TextOps.appendBm25Postings(
        Seq((1L, "rewritten content entirely")).toDF("doc_id", "text"),
        b, gen = 1L)
      val v2 = TextOps.bm25Family(b).fsck(spark)
      assert(v2.exists(_.contains("live generations")), v2.toString)
    } finally drop(b, s"${b}_docs", s"${b}_del")
  }

  test("ANN: a partial append's band-count violation is named") {
    val a = s"fs_bad_ann_p$pid"
    drop(a, s"${a}_vec", s"${a}_cfg", s"${a}_del")
    try {
      AnnIndex.write(emb, a, nBands = 4, bits = 2)
      // duplicate one band row out-of-band: that vector now carries 5
      // rows against the cfg's 4 — the shape a crashed partial append
      // (or a replayed non-ledgered one) leaves behind
      val one = spark.table(a).limit(1).collect()
      spark.createDataFrame(
          spark.sparkContext.parallelize(one.toIndexedSeq),
          spark.table(a).schema)
        .write.mode("append")
        .bucketBy(8, "band_key").sortBy("band_key")
        .saveAsTable(a)
      val v = AnnIndex.family(a).fsck(spark)
      assert(v.exists(_.contains("band rows")), v.toString)
    } finally drop(a, s"${a}_vec", s"${a}_cfg", s"${a}_del")
  }

  test("ANN: a live vector with ZERO band rows is flagged (total loss)") {
    val a = s"fs_zb_ann_p$pid"
    val tmp = s"${a}_tmp"
    drop(a, s"${a}_vec", s"${a}_cfg", s"${a}_del", tmp)
    try {
      val sp = spark
      import sp.implicits._
      AnnIndex.write(emb, a, nBands = 4, bits = 2)
      // a NON-NULL-embedding victim: NULL vectors legitimately store
      // a payload row and no bands, and must stay un-flagged
      val victim = spark.table(s"${a}_vec")
        .filter(col("v").isNotNull).select("vec_id").head().getLong(0)
      // lose EVERY band row of the victim — the total-loss case the
      // per-id count audit (bands-side groupBy) cannot see
      spark.table(a).filter(col("vec_id") =!= victim)
        .write.bucketBy(8, "band_key").sortBy("band_key")
        .saveAsTable(tmp)
      spark.sql(s"DROP TABLE $a")
      spark.sql(s"ALTER TABLE $tmp RENAME TO $a")
      val v = AnnIndex.family(a).fsck(spark)
      assert(v.exists(x => x.contains(s"vec_id $victim") &&
        x.contains("0 band rows")), v.toString)
    } finally drop(a, s"${a}_vec", s"${a}_cfg", s"${a}_del", tmp)
  }
}
