package graft

import graft.operators.{AnnIndex, BqIndex, SqIndex, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ONE-CALL observe/audit/heal twins (r15): the unified stream
  * families already had one-call ingest, CDC upsert/delete, vacuum,
  * hold, backup and restore — these specs close the LAST rows of the
  * verb table (describe/fsck/repair/maintain), so "what's the state
  * of this corpus's indexes" and "heal whatever a crash left" are
  * each one call, not N-per-family operator folklore. Contracts:
  *   - describe returns one status per member family (vectors: only
  *     the families this deployment actually stores);
  *   - fsck/repair prefix violations with the member family and stay
  *     no-ops on healthy families;
  *   - an injected member corruption surfaces through the unified
  *     fsck and heals through the unified repair.
  */
class UnifiedVerbsSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("documents: describe/fsck/repair/maintain run across both " +
      "member families; an injected stats drift surfaces prefixed " +
      "and heals in one unified repair") {
    val base = s"uv_doc_p$pid"
    val all = Seq(s"${base}_band", s"${base}_band_del",
      s"${base}_bm25", s"${base}_bm25_del", s"${base}_bm25_del_stage",
      s"${base}_bm25_stats")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val docs = Seq((1L, "spark join window"), (2L, "hash scan merge"))
        .toDF("doc_id", "text")
      TextOps.appendBm25Postings(docs, s"${base}_bm25",
        s"${base}_bm25_stats")
      TextOps.appendBandIndex(docs, s"${base}_band")

      val st = streaming.StreamingOps.describe(spark,
        streaming.IndexGroup.documents(base))
      assert(st.keySet === Set(s"${base}_band", s"${base}_bm25"))
      assert(st(s"${base}_bm25").stats.get("n_docs").contains(2L),
        st(s"${base}_bm25").toString)
      assert(streaming.StreamingOps.fsck(spark,
        streaming.IndexGroup.documents(base)).isEmpty)
      assert(streaming.StreamingOps.repair(spark,
        streaming.IndexGroup.documents(base)).isEmpty,
        "repair mutated a healthy family")
      // maintain is advisory-gauged: on a tiny fresh family it runs
      // zero or more ops — the contract here is just that ONE call
      // covers both members without throwing
      streaming.StreamingOps.maintain(spark,
        streaming.IndexGroup.documents(base))

      // inject the crash-class corruption fsck exists to catch
      Seq((99L, 99L)).toDF("n_docs", "sum_dl")
        .write.mode("overwrite").saveAsTable(s"${base}_bm25_stats")
      val v = streaming.StreamingOps.fsck(spark,
        streaming.IndexGroup.documents(base))
      assert(v.nonEmpty && v.forall(_.startsWith(s"${base}_bm25: ")),
        v.toString)
      val healed = streaming.StreamingOps.repair(spark,
        streaming.IndexGroup.documents(base))
      assert(healed.exists(_.contains("recomputed stats")),
        healed.toString)
      assert(streaming.StreamingOps.fsck(spark,
        streaming.IndexGroup.documents(base)).isEmpty,
        "unified repair did not converge")
    } finally drop(all: _*)
  }

  test("vectors: the unified verbs cover exactly the families this " +
      "deployment stores, skipping absent ones") {
    val base = s"uv_vec_p$pid"
    val all = Seq(s"${base}_ann", s"${base}_ann_vec", s"${base}_ann_cfg",
      s"${base}_ann_del", s"${base}_bq", s"${base}_bq_cfg",
      s"${base}_bq_del", s"${base}_sq", s"${base}_sq_cfg",
      s"${base}_sq_del")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val dim = 16
      val emb = (0 until 20).map { i =>
        (i.toLong, (0 until dim).map(j =>
          (((i * 7 + j * 3) % 13) + 1).toDouble))
      }.toDF("vec_id", "embedding")
      // a deployment storing THREE of the five families — the verbs
      // must cover exactly these, not throw on the absent pq/ivf
      AnnIndex.write(emb, s"${base}_ann", dim = dim)
      BqIndex.write(emb, s"${base}_bq", dim = dim)
      SqIndex.write(emb, s"${base}_sq", dim = dim)

      val st = streaming.StreamingOps.describe(spark,
        streaming.IndexGroup.vectors(base))
      assert(st.keySet ===
        Set(s"${base}_ann", s"${base}_bq", s"${base}_sq"), st.keySet)
      assert(streaming.StreamingOps.fsck(spark,
        streaming.IndexGroup.vectors(base)).isEmpty)
      assert(streaming.StreamingOps.repair(spark,
        streaming.IndexGroup.vectors(base)).isEmpty)
      streaming.StreamingOps.maintain(spark, streaming.IndexGroup.vectors(base))

      // a delete leaves tombstone debt the unified describe reports
      AnnIndex.family(s"${base}_ann").delete(spark,
        Seq(3L).toDF("vec_id"))
      val st2 = streaming.StreamingOps.describe(spark,
        streaming.IndexGroup.vectors(base))
      assert(st2(s"${base}_ann").delRows >= 1L)
      assert(st2(s"${base}_bq").delRows === 0L)
    } finally drop(all: _*)
  }
}
