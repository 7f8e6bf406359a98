package graft

import graft.operators.{AnnIndex, BqIndex, IvfIndex, PqIndex, SqIndex, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** TOMBSTONED DELETES — the lifecycle op the append-only indexes
  * lacked (insert = append/ingest, retrain = refresh, rewrite =
  * compact; removal had no story until r13). The invariant gated for
  * every family: after `delete(ids)`, the probe is IDENTICAL to the
  * same probe against an index containing only the survivors — and
  * after `vacuum`, the tombstone list is gone, the files no longer
  * hold the deleted rows, and the probe is STILL identical. For BM25
  * the stats adjustment must be exact (n_docs, sum_dl subtract the
  * victims' own contribution), making post-delete scores bit-equal to
  * a survivor-only index.
  */
class DeleteSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()
  private def emb = Tables(spark, sf, "embeddings")
  private def docs = Tables(spark, sf, "documents")

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def victimIds(n: Int): DataFrame = {
    val sp = spark
    import sp.implicits._
    // spread across buckets; deliberately include an id that is NOT
    // in the corpus (delete of an unknown id must be a no-op)
    ((20L until 20L + n.toLong) :+ 999999L).toDF("vec_id")
  }

  test("BM25: delete equals a survivor-only index, bit for bit") {
    val t = s"del_bm25_p$pid"
    val t2 = s"del_bm25_scratch_p$pid"
    val all = Seq(t, s"${t}_stats", s"${t}_del", s"${t}_compact",
      s"${t}_old", t2, s"${t2}_stats")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val victims = (10L until 30L).toDF("doc_id")
      TextOps.appendBm25Postings(docs, t, s"${t}_stats")
      TextOps.deleteBm25Docs(spark, t, s"${t}_stats", victims)
      // double delete + unknown ids: stats must not move again
      val statsAfter = spark.table(s"${t}_stats").collect()(0)
      TextOps.deleteBm25Docs(spark, t, s"${t}_stats",
        victims.unionByName(Seq(888888L).toDF("doc_id")))
      assert(spark.table(s"${t}_stats").collect()(0) === statsAfter)

      // scratch twin over the survivors only (compare the two counts
      // by name: the delete-adjusted stats row carries its txn token)
      TextOps.appendBm25Postings(
        docs.join(victims, Seq("doc_id"), "left_anti"), t2, s"${t2}_stats")
      assert(spark.table(s"${t2}_stats")
        .select("n_docs", "sum_dl").collect()(0) ===
        org.apache.spark.sql.Row(statsAfter.getLong(0),
          statsAfter.getLong(1)))

      val qt = Seq((1, "the"), (1, "data"), (2, "model"), (2, "learn"))
        .toDF("q_id", "token")
      def score(pt: DataFrame, st: DataFrame) =
        TextOps.bm25ScoreIncr(qt, pt, st).collect()
          .map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2))).toMap
      val (livePosts, liveStats) = TextOps.liveBm25(spark, t, s"${t}_stats")
      val got = score(livePosts, liveStats)
      val want = score(spark.table(t2), spark.table(s"${t2}_stats"))
      assert(got === want)
      assert(got.nonEmpty)
      assert(!got.keys.exists { case (_, d) => d >= 10L && d < 30L })

      // vacuum folds: list gone, rows gone, scores unchanged
      TextOps.vacuumIndex(spark, s"${t}_del", Seq(t), "doc_id")
      assert(!spark.catalog.tableExists(s"${t}_del"))
      assert(spark.table(t).filter(
        col("doc_id") >= 10L && col("doc_id") < 30L).isEmpty)
      val (p2, s2) = TextOps.liveBm25(spark, t, s"${t}_stats")
      assert(score(p2, s2) === want)
    } finally drop(all: _*)
  }

  test("BM25 delete crash states heal exactly-once (the staged WAL)") {
    val t = s"del_wal_p$pid"
    val t2 = s"del_wal_twin_p$pid"
    val all = Seq(t, s"${t}_stats", s"${t}_del", s"${t}_del_stage",
      t2, s"${t2}_stats", s"${t2}_del", s"${t2}_del_stage")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val victims = (10L until 30L).toDF("doc_id")
      TextOps.appendBm25Postings(docs, t, s"${t}_stats")
      TextOps.appendBm25Postings(docs, t2, s"${t2}_stats")
      val stageRows = spark.table(t).select("doc_id", "dl").distinct()
        .join(victims, Seq("doc_id"))
        .withColumn("gen", lit(TextOps.TerminalGen))

      // crash state A: the stage committed, nothing applied (died
      // right after the write-ahead). The next PROBE must heal it to
      // exactly the state a clean delete produces.
      stageRows.write.saveAsTable(s"${t}_del_stage")
      val (pA, sA) = TextOps.liveBm25(spark, t, s"${t}_stats")
      TextOps.deleteBm25Docs(spark, t2, s"${t2}_stats", victims)
      val (pB, sB) = TextOps.liveBm25(spark, t2, s"${t2}_stats")
      assert(!spark.catalog.tableExists(s"${t}_del_stage"))
      assert(sA.select("n_docs", "sum_dl").collect()(0) ===
        sB.select("n_docs", "sum_dl").collect()(0))
      assert(pA.count() === pB.count())

      // crash state B: stats already adjusted (txn recorded) but the
      // process died before the tombstone append finished + stage
      // drop. Re-staging the SAME victims must NOT subtract again.
      val statsHealthy = spark.table(s"${t}_stats")
        .select("n_docs", "sum_dl").collect()(0)
      stageRows.write.saveAsTable(s"${t}_del_stage")
      // note: stats.txn still holds this stage's content hash
      val (_, _) = TextOps.liveBm25(spark, t, s"${t}_stats")
      assert(spark.table(s"${t}_stats")
        .select("n_docs", "sum_dl").collect()(0) === statsHealthy)

      // crash state A + an APPEND arriving before any probe: the
      // append heals first, so its stats rewrite can't strand the
      // in-flight delete's token
      val extra = docs.filter(col("doc_id") >= 400 && col("doc_id") < 410)
      val vic2 = (30L until 40L).toDF("doc_id")
      val stage2 = spark.table(t).select("doc_id", "dl").distinct()
        .join(vic2, Seq("doc_id"))
        .withColumn("gen", lit(TextOps.TerminalGen)).persist()
      val n2 = stage2.count()
      stage2.write.saveAsTable(s"${t}_del_stage")
      val before = spark.table(s"${t}_stats").collect()(0).getLong(0)
      TextOps.appendBm25Postings(extra, t, s"${t}_stats")
      assert(spark.table(s"${t}_stats").collect()(0).getLong(0) ===
        before - n2 + extra.count())
      stage2.unpersist()
    } finally drop(all: _*)
  }

  test("BM25 reset replay: tombstones survive and rebuilt stats reconcile") {
    // ADVICE r13: the ledgered ingest's member-loss reset dropped the
    // data members but knew nothing of the tombstones — the replay
    // re-ingested deleted docs and re-counted them into the rebuilt
    // stats FOREVER (their ids stay tombstoned, so a re-delete
    // intersects to zero victims and never re-subtracts). Gate: after
    // delete → member loss → re-ingest, the family is bit-identical
    // to a survivor-only index, including the stats row.
    val sp = spark
    import sp.implicits._
    val corpus = Seq(
      1L -> "spark join window fast",
      2L -> "window window hash",
      3L -> "hash scan merge fast",
      4L -> "customer order data stream",
      5L -> "spark data window join")
    val dir = java.nio.file.Files.createTempDirectory("graft_reset").toString
    corpus.map { case (id, tx) => (id, tx, "en", "src0", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t = s"del_reset_p$pid"
    val st = s"${t}_stats"
    val t2 = s"del_reset_twin_p$pid"
    val all = Seq(t, st, s"${t}_ledger", s"${t}_del", s"${t}_del_stage",
      s"${t}_del_reconcile", t2, s"${t2}_stats", s"${t2}_del")
    drop(all: _*)
    def survivorStats(surviving: Seq[Long]): org.apache.spark.sql.Row = {
      drop(t2, s"${t2}_stats")
      TextOps.appendBm25Postings(
        spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id").isin(surviving: _*)), t2, s"${t2}_stats")
      spark.table(s"${t2}_stats").select("n_docs", "sum_dl").collect()(0)
    }
    val qt = Seq((1, "window"), (1, "spark"), (2, "data"), (2, "hash"))
      .toDF("q_id", "token")
    def scores(pt: DataFrame, stt: DataFrame) =
      TextOps.bm25ScoreIncr(qt, pt, stt).collect()
        .map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2))).toMap
    try {
      streaming.StreamingOps.streamingBm25Ingest(spark, dir, t, st)
      TextOps.deleteBm25Docs(spark, t, st, Seq(2L, 4L).toDF("doc_id"))
      // MEMBER LOSS: the stats twin vanishes out from under the family
      spark.sql(s"DROP TABLE $st")
      streaming.StreamingOps.streamingBm25Ingest(spark, dir, t, st)
      assert(!spark.catalog.tableExists(s"${t}_del_reconcile"),
        "reconcile marker must retire with the replay")
      val want = survivorStats(Seq(1L, 3L, 5L))
      assert(spark.table(st).select("n_docs", "sum_dl").collect()(0)
        === want, "rebuilt stats still count tombstoned docs")
      val (lp, ls) = TextOps.liveBm25(spark, t, st)
      val got = scores(lp, ls)
      assert(got === scores(spark.table(t2), spark.table(s"${t2}_stats")))
      assert(got.nonEmpty)
      // a re-delete of the same ids must not move the reconciled stats
      TextOps.deleteBm25Docs(spark, t, st, Seq(2L, 4L).toDF("doc_id"))
      assert(spark.table(st).select("n_docs", "sum_dl").collect()(0)
        === want)

      // ORPHANED STAGE across a reset (the second ADVICE r13 leg): a
      // delete that crashed right after its write-ahead, followed by
      // a family reset, must not LOSE the deletion — the reset folds
      // the staged ids into the tombstones and the replay reconciles
      spark.table(t).select("doc_id", "dl").distinct()
        .filter(col("doc_id") === 5L)
        .withColumn("gen", lit(TextOps.TerminalGen))
        .write.saveAsTable(s"${t}_del_stage")
      spark.sql(s"DROP TABLE $st")
      streaming.StreamingOps.streamingBm25Ingest(spark, dir, t, st)
      val want2 = survivorStats(Seq(1L, 3L))
      assert(spark.table(st).select("n_docs", "sum_dl").collect()(0)
        === want2, "staged deletion lost across the reset")
      val (lp2, ls2) = TextOps.liveBm25(spark, t, st)
      val got2 = scores(lp2, ls2)
      assert(got2 === scores(spark.table(t2), spark.table(s"${t2}_stats")))
      assert(!got2.keys.exists { case (_, d) => d == 2L || d == 4L || d == 5L })
    } finally {
      drop(all: _*)
      val ck = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase + "_ck")
      val fs = ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(ck, true)
    }
  }

  test("band index: deleted docs stop colliding; vacuum folds") {
    val t = s"del_band_p$pid"
    val t2 = s"del_band_scratch_p$pid"
    val all = Seq(t, s"${t}_del", s"${t}_compact", s"${t}_old", t2)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val victims = (10L until 40L).toDF("doc_id")
      val old = docs.filter(col("doc_id") < 200)
      val probeDocs = docs.filter(col("doc_id") >= 200 &&
        col("doc_id") < 260)
      TextOps.writeBandIndex(old, t)
      TextOps.bandFamily(t).delete(spark, victims)
      TextOps.writeBandIndex(
        old.join(victims, Seq("doc_id"), "left_anti"), t2)
      def pairs(index: org.apache.spark.sql.DataFrame) =
        TextOps.nearDupsAgainstIndex(probeDocs, index).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = pairs(TextOps.liveBandIndex(spark, t))
      assert(got === pairs(spark.table(t2)))
      assert(!got.exists { case (_, o) => o >= 10L && o < 40L })
      TextOps.bandFamily(t).vacuum(spark)
      assert(!spark.catalog.tableExists(s"${t}_del"))
      assert(spark.table(t).filter(
        col("old_id") >= 10L && col("old_id") < 40L).isEmpty)
      assert(pairs(TextOps.liveBandIndex(spark, t)) === got)
    } finally drop(all: _*)
  }

  test("ANN: delete equals a survivor-only index; vacuum folds both members") {
    val t = s"del_ann_p$pid"
    val t2 = s"del_ann_scratch_p$pid"
    val all = Seq(t, s"${t}_vec", s"${t}_cfg", s"${t}_del",
      s"${t}_compact", s"${t}_old", s"${t}_vec_compact", s"${t}_vec_old",
      t2, s"${t2}_vec", s"${t2}_cfg")
    drop(all: _*)
    try {
      val ids = victimIds(8)
      AnnIndex.write(emb, t)
      AnnIndex.family(t).delete(spark, ids)
      // banding is stateless (deterministic hyperplanes), so the
      // survivor-only build differs from the deleted index by exactly
      // the tombstoned rows
      AnnIndex.write(emb.join(ids, Seq("vec_id"), "left_anti"), t2)
      def probe(x: String) = AnnIndex.topK(spark, x, _ < 10, k = 5)
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          r.getDouble(2))).toMap
      val got = probe(t)
      assert(got === probe(t2))
      assert(got.nonEmpty)
      // external serving path honors the tombstones too
      val sp = spark
      import sp.implicits._
      val q = Seq((1L, (0 until 64).map(_.toDouble)))
        .toDF("q_id", "embedding")
      val ext = AnnIndex.scoreExternal(q, spark, t).collect()
        .map(_.getLong(1)).toSet
      assert(ext.intersect((20L until 28L).toSet).isEmpty)

      AnnIndex.family(t).vacuum(spark)
      assert(!spark.catalog.tableExists(s"${t}_del"))
      assert(spark.table(s"${t}_vec").filter(
        col("vec_id") >= 20L && col("vec_id") < 28L).isEmpty)
      assert(probe(t) === got)
    } finally drop(all: _*)
  }

  test("IVF / PQ / BQ / SQ: delete equals survivor-only; vacuum folds") {
    val base = s"del_fam_p$pid"
    val ids = victimIds(8)
    val survivors = emb.join(ids, Seq("vec_id"), "left_anti")
    val annv = s"${base}_annv" // payload family for the BQ rerank leg
    val fams = Seq("ivf", "pq", "bq", "sq")
    val all = (fams.flatMap { f =>
      val t = s"${base}_$f"
      Seq(t, s"${t}_cent", s"${t}_cb", s"${t}_cfg", s"${t}_del",
        s"${t}_compact", s"${t}_old",
        s"${t}2", s"${t}2_cent", s"${t}2_cb", s"${t}2_cfg")
    }) ++ Seq(annv, s"${annv}_vec", s"${annv}_cfg")
    drop(all: _*)
    try {
      AnnIndex.write(emb, annv) // shared exact-vector payload (full)
      val qv = emb.filter(col("vec_id") < 3)
        .select(col("vec_id"),
          expr("coalesce(CAST(embedding AS ARRAY<DOUBLE>), " +
            "array_repeat(CAST(0 AS DOUBLE), 64))").as("v"))
      val probes: Map[String, String => Map[(Long, Long), Double]] = Map(
        "ivf" -> (t => IvfIndex.topK(spark, t, _ < 3, k = 4).collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap),
        "pq" -> (t => PqIndex.topK(spark, t, qv, k = 4).collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap),
        "bq" -> (t => BqIndex.topK(spark, t, s"${annv}_vec", _ < 3, k = 4)
          .collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap),
        "sq" -> (t => SqIndex.topK(spark, t, _ < 3, k = 4).collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap))
      def write(f: String, t: String, e: DataFrame): Unit = f match {
        case "ivf" => IvfIndex.write(e, t)
        case "pq" => PqIndex.write(e, t)
        case "bq" => BqIndex.write(e, t)
        case "sq" => SqIndex.write(e, t)
      }
      // the survivor twin keeps the FULL-corpus quantizer for the
      // frozen-quantizer families — delete changes what answers, not
      // how it's scored (retraining is refresh's job, not delete's)
      def writeScratch(f: String, t: String): Unit = f match {
        case "ivf" =>
          IvfIndex.write(emb, t)
          spark.sql(s"DROP TABLE $t")
          IvfIndex.append(survivors, t)
        case "pq" =>
          PqIndex.trainCodebook(emb, t)
          PqIndex.append(survivors, t)
        case "bq" => BqIndex.write(survivors, t)
        case "sq" => SqIndex.write(survivors, t)
      }
      def delete(f: String, t: String): Unit = f match {
        case "ivf" => IvfIndex.family(t).delete(spark, ids)
        case "pq" => PqIndex.family(t).delete(spark, ids)
        case "bq" => BqIndex.family(t).delete(spark, ids)
        case "sq" => SqIndex.family(t).delete(spark, ids)
      }
      def vacuum(f: String, t: String): Unit = f match {
        case "ivf" => IvfIndex.family(t).vacuum(spark)
        case "pq" => PqIndex.family(t).vacuum(spark)
        case "bq" => BqIndex.family(t).vacuum(spark)
        case "sq" => SqIndex.family(t).vacuum(spark)
      }
      fams.foreach { f =>
        val t = s"${base}_$f"
        write(f, t, emb)
        delete(f, t)
        writeScratch(f, s"${t}2")
        val got = probes(f)(t)
        assert(got === probes(f)(s"${t}2"), s"family $f post-delete")
        assert(got.nonEmpty, s"family $f empty probe")
        vacuum(f, t)
        assert(!spark.catalog.tableExists(s"${t}_del"), f)
        assert(spark.table(t).filter(
          col("vec_id") >= 20L && col("vec_id") < 28L).isEmpty, f)
        assert(probes(f)(t) === got, s"family $f post-vacuum")
      }
    } finally drop(all: _*)
  }
}
