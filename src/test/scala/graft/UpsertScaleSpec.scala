package graft

import graft.operators.{AnnIndex, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** OPT-IN maintenance-scale audit (r14): the correctness specs prove
  * upsert SEMANTICS; this measures upsert COST against corpus size —
  * the 100 TB claim for the refresh path is that an upsert touches
  * O(batch) data (tombstone append + batch append), never
  * O(corpus), so the same batch against a 10×-larger
  * index should cost about the same. Timing assertions are
  * deliberately absent (machine load would make them flaky); the
  * audit PRINTS the seconds for SCALE_SF1.md and asserts only
  * correctness sanity. Run with GRAFT_SCALE_AUDIT=1 — under plain
  * `sbt test` the suite cancels (building the sf1 index is a
  * ~minute-scale job that doesn't belong in every CI pass).
  */
class UpsertScaleSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  test("upsert cost is O(batch): the same batch against sf0.1 and sf1 " +
      "indexes (audit — prints seconds, gates only sanity)") {
    assume(sys.env.contains("GRAFT_SCALE_AUDIT"),
      "opt-in audit: set GRAFT_SCALE_AUDIT=1")
    val dirs = Seq("sf0.1" -> "/root/testdata/sf0.1",
      "sf1" -> "/tmp/sf1")
    val results = dirs.map { case (label, dir) =>
      val docs = Tables(spark, dir, "documents")
      val emb = Tables(spark, dir, "embeddings")
      val bt = s"ua_bm25_${label.replace(".", "")}_p$pid"
      val at = s"ua_ann_${label.replace(".", "")}_p$pid"
      val all = Seq(bt, s"${bt}_docs", s"${bt}_del", at, s"${at}_vec",
        s"${at}_cfg", s"${at}_del")
      all.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      try {
        val (_, buildS) = timed {
          TextOps.appendBm25Postings(docs, bt)
          AnnIndex.write(emb, at)
        }
        // the SAME fixed-size batch for both scales: re-crawl 500
        // docs + re-embed 200 vectors (ids present at every SF)
        val docBatch = docs.filter(col("doc_id") < 500)
          .withColumn("text", concat(lit("refreshed "), col("text")))
        val vecBatch = emb.filter(col("vec_id") < 200)
        val (_, upsertS) = timed {
          TextOps.upsertBm25Docs(spark, bt, docBatch)
          AnnIndex.upsert(vecBatch, at)
        }
        // sanity: the refreshed content answers, stats moved
        val (lp, ls) = TextOps.liveBm25(spark, bt, "")
        val sp = spark
        import sp.implicits._
        val hits = TextOps.bm25ScoreIncr(
          Seq((1, "refreshed")).toDF("q_id", "token"), lp, ls).count()
        assert(hits > 0, s"$label: refreshed docs do not answer")
        println(f"UPSERT_AUDIT $label build=$buildS%.2fs " +
          f"upsert=$upsertS%.2fs")
        (label, buildS, upsertS)
      } finally all.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
    val Seq((_, b0, u0), (_, b1, u1)) = results
    println(f"UPSERT_AUDIT ratios: build ${b1 / b0}%.2fx " +
      f"upsert ${u1 / u0}%.2fx (10x corpus)")
  }
}
