package graft

import graft.operators.TextOps
import graft.streaming.{IndexGroup, StreamingOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** OPT-IN scale audit for the remediation verb (r18): the correctness
  * specs prove heal SEMANTICS; this measures heal COST against corpus
  * size. The 100 TB claim is that remediation is O(quarantine): its
  * pieces are the admission annotate over the quarantined rows, the
  * ingest-door trimmings (curation scan of the batch, in-batch dedup,
  * a bucketed `_hashes` probe), the member UPSERTS (already audited
  * O(batch) in UpsertScaleSpec), and the slice scrub (touched
  * partitions only) — none rescans the corpus, so the SAME 600-row
  * quarantine against a 10×-larger family should cost about the same.
  * Prints seconds for SCALE_SF1.md, gates only correctness sanity.
  * Run with GRAFT_SCALE_AUDIT=1 (needs /tmp/sf1 from
  * scripts/make_sf1.py).
  */
class RemediationScaleSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def enText(tag: String): String =
    s"this is the $tag body of a document holding plenty of english " +
      "filler words so that the curation gate keeps it namely " +
      "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo " +
      "sierra tango uniform victor whiskey xray yankee zulu"

  test("remediation cost is O(quarantine): the same 600-row " +
      "quarantine heals against sf0.1 and sf1 families (audit — " +
      "prints seconds, gates only sanity)") {
    assume(sys.env.contains("GRAFT_SCALE_AUDIT"),
      "opt-in audit: set GRAFT_SCALE_AUDIT=1")
    val sp = spark
    import sp.implicits._
    val rules = Seq[graft.operators.Quality.Rule](
      graft.operators.Quality.Rule.OneOf("lang", Seq("en", "fr", "de")))
    val dirs = Seq("sf0.1" -> "/root/testdata/sf0.1",
      "sf1" -> "/tmp/sf1")
    val results = dirs.map { case (label, dir) =>
      val base = s"remsc_${label.replace(".", "")}_p$pid"
      val all = Seq(s"${base}_band", s"${base}_band_del",
        s"${base}_bm25", s"${base}_bm25_del",
        s"${base}_bm25_docs",
        s"${base}_hashes", s"${base}_quarantine", s"${base}_admission")
      all.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      try {
        val docs = Tables(spark, dir, "documents")
        val (_, buildS) = timed {
          TextOps.appendBm25Postings(docs, s"${base}_bm25")
          TextOps.appendBandIndex(docs, s"${base}_band")
          TextOps.clearOrphanLocation(spark, s"${base}_hashes")
          docs.select(md5(col("text")).as("content_hash"),
              col("doc_id"))
            .write.bucketBy(8, "content_hash").sortBy("content_hash")
            .saveAsTable(s"${base}_hashes")
        }
        // the SAME fixed-size quarantine at both scales: 600 synthetic
        // lang-defect docs, ids far above any corpus id
        val bad = (1 to 600).map(i =>
          (9000000L + i, enText(s"audit doc $i healme"), "xx",
            "crawl", 150L))
          .toDF("doc_id", "text", "lang", "source", "n_chars")
        val (admitted, annOpt) = StreamingOps.admitBatch(spark, bad,
          rules, 1.0, base, 0L, "scale-audit")
        assert(admitted.count() === 0L)
        annOpt.foreach(_.unpersist())
        assert(spark.table(s"${base}_quarantine").count() === 600L)

        val (summary, remS) = timed {
          StreamingOps.remediateQuarantine(spark, IndexGroup.documents(base),
            fix = df => df.withColumn("lang", lit("en")),
            admission = rules).collect()
        }
        val healed = summary.map(_.getLong(2)).sum
        assert(healed === 600L, s"$label healed $healed")
        assert(spark.table(s"${base}_quarantine").count() === 0L)
        val (p, st) = TextOps.liveBm25(spark, s"${base}_bm25", "")
        val hits = TextOps.bm25ScoreIncr(
          Seq((1, "healme")).toDF("q_id", "token"), p, st).count()
        assert(hits === 600L, s"$label probe hits $hits")
        println(f"REMEDIATION_AUDIT $label build=$buildS%.2fs " +
          f"remediate=$remS%.2fs")
        (buildS, remS)
      } finally
        all.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
    val Seq((b0, r0), (b1, r1)) = results
    println(f"REMEDIATION_AUDIT ratios: build ${b1 / b0}%.2fx " +
      f"remediate ${r1 / r0}%.2fx (10x corpus, same quarantine)")
  }
}
