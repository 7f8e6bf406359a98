package graft

import graft.operators.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** END-TO-END lifecycle integration (r14): one document family driven
  * through every streamed lifecycle op the engine has — curated
  * ingest, CDC upsert, CDC delete, checkpoint-loss replay, the
  * maintenance policy pass — with the SAME invariant asserted after
  * every step: probes and stats are bit-identical to a from-scratch
  * batch build over whatever the net corpus is at that instant. The
  * unit specs (UnifiedIngestSpec, UpsertSpec, DeleteSpec,
  * MaintainSpec) gate each op in isolation; this spec gates their
  * COMPOSITION — the interleavings a production corpus actually
  * produces (upsert-then-delete, delete-then-replayed-upsert of a
  * terminal id, vacuum over mixed barrier generations).
  */
class LifecycleSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  /** ≥30 tokens, >25% unique, contains " the ", " a ", " of " — so
    * every fixture row passes the unified ingest's curation gate and
    * en outscores fr/es/de. */
  private def text(seed: Int): String =
    s"the quick brown fox f$seed jumped over a lazy dog of unusual size " +
      (0 until 24).map(j => s"tok${seed}x$j").mkString(" ")

  private def docs(rows: Seq[(Long, Int)]): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.map { case (id, seed) =>
      val t = text(seed)
      (id, t, "en", "s0", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("document family: streamed ingest+upsert+delete+replay+maintain " +
      "equals a batch build over the net corpus at every step") {
    val base = s"lc_doc_p$pid"
    val bm25T = s"${base}_bm25"
    val bandT = s"${base}_band"
    val twin = s"lc_twin_p$pid"
    val all = Seq(bm25T, s"${bm25T}_del", s"${bm25T}_del_compact",
      s"${bm25T}_del_old", s"${bm25T}_compact", s"${bm25T}_old",
      s"${bm25T}_docs",
      bandT, s"${bandT}_del", s"${bandT}_del_compact",
      s"${bandT}_del_old", s"${bandT}_compact", s"${bandT}_old",
      s"${base}_hashes", s"${base}_ledger", s"${base}_ups_ledger",
      s"${base}_dels_ledger",
      twin, s"${twin}_docs", s"${twin}_band")
    def drop(): Unit = all.foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    drop()
    val ingestDir = java.nio.file.Files
      .createTempDirectory("graft_lc_ing").toString
    val upsDir = java.nio.file.Files
      .createTempDirectory("graft_lc_ups").toString
    val delDir = java.nio.file.Files
      .createTempDirectory("graft_lc_del").toString
    def ckOf(name: String) = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      name.toLowerCase + "_ck")
    val fs = ckOf(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    val sp = spark
    import sp.implicits._
    val qt = Seq((1, "the"), (1, "fox"), (2, "f3"), (2, "f103"),
      (3, "tok5x3"), (3, "f7")).toDF("q_id", "token")
    def scores(pt: DataFrame, st: DataFrame): Map[(Int, Long), Double] =
      TextOps.bm25ScoreIncr(qt, pt, st).collect()
        .map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2))).toMap
    def stats(st: String): org.apache.spark.sql.Row =
      TextOps.liveBm25(spark, st, "")._2
        .select("n_docs", "sum_dl").collect()(0)
    /** The invariant: live probes and stats equal a from-scratch
      * batch build over `corpus` (rebuilt fresh per call). */
    def assertParity(corpus: DataFrame, leg: String): Unit = {
      Seq(twin, s"${twin}_docs", s"${twin}_band").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
      TextOps.appendBm25Postings(corpus, twin)
      TextOps.writeBandIndex(corpus, s"${twin}_band")
      val (lp, ls) = TextOps.liveBm25(spark, bm25T, "")
      val got = scores(lp, ls)
      assert(got === scores(spark.table(twin),
        TextOps.liveBm25(spark, twin, "")._2), s"$leg: bm25 scores")
      assert(got.nonEmpty, s"$leg: empty probe")
      assert(stats(bm25T) === stats(twin), s"$leg: stats")
      // band parity: probe with the corpus itself under shifted ids —
      // identical text guarantees a hit for every live doc and none
      // for superseded/deleted content
      val probe = corpus.withColumn("doc_id", col("doc_id") + 1000L)
      def pairs(index: DataFrame) =
        TextOps.nearDupsAgainstIndex(probe, index).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs(TextOps.liveBandIndex(spark, bandT)) ===
        pairs(spark.table(s"${twin}_band")), s"$leg: band pairs")
    }

    try {
      // 1. curated streamed ingest of ids 1-6
      docs(Seq(1L -> 1, 2L -> 2, 3L -> 3, 4L -> 4, 5L -> 5, 6L -> 6))
        .write.parquet(s"$ingestDir/documents.parquet")
      streaming.StreamingOps.streamingDocumentIngest(spark, ingestDir,
        base)
      val v1 = docs(Seq(1L -> 1, 2L -> 2, 3L -> 3, 4L -> 4, 5L -> 5,
        6L -> 6))
      assertParity(v1, "post-ingest")

      // 2. CDC upsert: 3 re-crawled with new text, 7 pure insert
      docs(Seq(3L -> 103, 7L -> 7))
        .coalesce(1).write.mode("append").parquet(upsDir)
      streaming.StreamingOps.streamingUpserts(spark, upsDir,
        streaming.IndexGroup.documents(base))
      val v2 = docs(Seq(1L -> 1, 2L -> 2, 3L -> 103, 4L -> 4, 5L -> 5,
        6L -> 6, 7L -> 7))
      assertParity(v2, "post-upsert")
      // the upserted doc's OLD content is gone from the band index:
      // probing with it finds no partner
      val oldProbe = docs(Seq(3L -> 3))
        .withColumn("doc_id", col("doc_id") + 2000L)
      assert(TextOps.nearDupsAgainstIndex(oldProbe,
        TextOps.liveBandIndex(spark, bandT)).isEmpty,
        "superseded content still answers")

      // 3. CDC delete: 5 (never touched) and 7 (the upserted insert)
      Seq(5L, 7L).toDF("doc_id")
        .coalesce(1).write.mode("append").parquet(delDir)
      streaming.StreamingOps.streamingDeletes(spark, delDir,
        streaming.IndexGroup.documents(base))
      val v3 = docs(Seq(1L -> 1, 2L -> 2, 3L -> 103, 4L -> 4, 6L -> 6))
      assertParity(v3, "post-delete")

      // 4. checkpoint loss on the upsert stream: full replay
      // re-supersedes 3 at a higher barrier and re-attempts 7 — which
      // is TERMINALLY deleted and must stay dead, rows AND stats
      fs.delete(ckOf(s"${base}_ups"), true)
      streaming.StreamingOps.streamingUpserts(spark, upsDir,
        streaming.IndexGroup.documents(base))
      assertParity(v3, "post-replay")

      // 5. the maintenance pass (forced vacuum folds every barrier
      // generation and the terminal tombstones into the files)
      val p = TextOps.MaintenancePolicy(delRowsMax = 0L)
      val ran = TextOps.bm25Family(bm25T).maintain(spark, p) ++
        TextOps.bandFamily(bandT).maintain(spark, p)
      assert(ran.contains("vacuum"), ran.toString)
      assert(!spark.catalog.tableExists(s"${bm25T}_del"))
      assert(spark.table(bm25T).filter(col("gen") =!= 0L).isEmpty)
      assertParity(v3, "post-vacuum")
    } finally {
      drop()
      Seq(base, s"${base}_ups", s"${base}_dels").foreach(n =>
        fs.delete(ckOf(n), true))
      ()
    }
  }
}
