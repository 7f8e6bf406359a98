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
  * the derived stats must be exact (n_docs, sum_dl lose exactly the
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
    val all = Seq(t, s"${t}_docs", s"${t}_del", s"${t}_compact",
      s"${t}_old", t2, s"${t2}_docs")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val victims = (10L until 30L).toDF("doc_id")
      TextOps.appendBm25Postings(docs, t)
      TextOps.deleteBm25Docs(spark, t, victims)
      // double delete + unknown ids: stats must not move again
      val statsAfter = TextOps.liveBm25(spark, t, "")._2.collect()(0)
      TextOps.deleteBm25Docs(spark, t,
        victims.unionByName(Seq(888888L).toDF("doc_id")))
      assert(TextOps.liveBm25(spark, t, "")._2.collect()(0) === statsAfter)

      // scratch twin over the survivors only
      TextOps.appendBm25Postings(
        docs.join(victims, Seq("doc_id"), "left_anti"), t2)
      assert(TextOps.liveBm25(spark, t2, "")._2
        .select("n_docs", "sum_dl").collect()(0) ===
        org.apache.spark.sql.Row(statsAfter.getLong(0),
          statsAfter.getLong(1)))

      val qt = Seq((1, "the"), (1, "data"), (2, "model"), (2, "learn"))
        .toDF("q_id", "token")
      def score(pt: DataFrame, st: DataFrame) =
        TextOps.bm25ScoreIncr(qt, pt, st).collect()
          .map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2))).toMap
      val (livePosts, liveStats) = TextOps.liveBm25(spark, t, "")
      val got = score(livePosts, liveStats)
      val want = score(spark.table(t2), TextOps.liveBm25(spark, t2, "")._2)
      assert(got === want)
      assert(got.nonEmpty)
      assert(!got.keys.exists { case (_, d) => d >= 10L && d < 30L })

      // vacuum folds: list gone, rows gone, scores unchanged
      TextOps.bm25Family(t).vacuum(spark)
      assert(!spark.catalog.tableExists(s"${t}_del"))
      assert(spark.table(t).filter(
        col("doc_id") >= 10L && col("doc_id") < 30L).isEmpty)
      val (p2, s2) = TextOps.liveBm25(spark, t, "")
      assert(score(p2, s2) === want)
    } finally drop(all: _*)
  }

  test("BM25 crash between the member writes: fsck names the stats " +
      "drift, repair heals it") {
    // the one crash window an append leaves: the postings landed, the
    // `_docs` rows the stats derive from did not
    val t = s"del_docs_p$pid"
    val t2 = s"del_docs_batch_p$pid"
    val t3 = s"del_docs_clean_p$pid"
    val all = Seq(t, s"${t}_docs", s"${t}_del", t2, s"${t2}_docs",
      t3, s"${t3}_docs")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val a = docs.filter(col("doc_id") < 300)
      val b = docs.filter(col("doc_id") >= 300 && col("doc_id") < 340)
      TextOps.appendBm25Postings(a, t)
      TextOps.appendBm25Postings(b, t2)
      spark.table(t2).write.mode("append")
        .bucketBy(8, "token").sortBy("token").saveAsTable(t)
      TextOps.appendBm25Postings(a, t3)
      TextOps.appendBm25Postings(b, t3)
      val v = TextOps.bm25Family(t).fsck(spark)
      assert(v.exists(_.contains("stats drift")), v.toString)
      assert(TextOps.liveBm25(spark, t, "")._2.collect()(0) !==
        TextOps.liveBm25(spark, t3, "")._2.collect()(0))
      assert(TextOps.bm25Family(t).repair(spark) ===
        Seq("recomputed stats: rewrote the docs member from the postings"))
      assert(TextOps.bm25Family(t).fsck(spark).isEmpty)
      val qt = Seq((1, "the"), (1, "data"), (2, "model"), (2, "learn"))
        .toDF("q_id", "token")
      def score(tbl: String) = {
        val (p, st) = TextOps.liveBm25(spark, tbl, "")
        (st.collect()(0), TextOps.bm25ScoreIncr(qt, p, st).collect()
          .map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2))).toMap)
      }
      val got = score(t)
      assert(got === score(t3))
      assert(got._2.nonEmpty)
    } finally drop(all: _*)
  }

  /** Spark jobs `body` starts on this thread. A fence job run after it
    * flushes the listener bus: its start arrives after every earlier
    * job's. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"deletespec-${java.util.UUID.randomUUID}"
    val fence = s"$group-fence"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`fence`) => fenced.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "delete job budget")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("job budget: a BM25 delete runs the jobs of a band delete " +
      "(both one tombstone append)") {
    val t = s"del_jobs_bm25_p$pid"
    val b = s"del_jobs_band_p$pid"
    val all = Seq(t, s"${t}_docs", s"${t}_del", b, s"${b}_del")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val corpus = docs.filter(col("doc_id") < 200)
      TextOps.appendBm25Postings(corpus, t)
      TextOps.appendBandIndex(corpus, b)
      // the first delete creates each list, the second appends to it
      Seq((10L until 20L), (20L until 25L)).foreach { r =>
        val ids = r.toDF("doc_id")
        val bm25 = jobsOf(TextOps.bm25Family(t).delete(spark, ids))
        val band = jobsOf(TextOps.bandFamily(b).delete(spark, ids))
        assert(bm25 === band, s"bm25 $bm25 jobs, band $band")
      }
    } finally drop(all: _*)
  }

  test("BM25 reset replay: tombstones survive and rebuilt stats reconcile") {
    // ADVICE r13: the ledgered ingest's member-loss reset drops the
    // data members and replays the source, re-ingesting deleted docs;
    // the tombstone list survives the reset, so the replayed rows stay
    // dead in the probe AND in the stats derived from `_docs`. Gate:
    // after delete → member loss → re-ingest, the family is
    // bit-identical to a survivor-only index, including the stats.
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
    val t2 = s"del_reset_twin_p$pid"
    val all = Seq(t, s"${t}_docs", s"${t}_ledger", s"${t}_del", t2,
      s"${t2}_docs", s"${t2}_del")
    drop(all: _*)
    def stats(tbl: String) = TextOps.liveBm25(spark, tbl, "")._2
      .select("n_docs", "sum_dl").collect()(0)
    def survivorStats(surviving: Seq[Long]): org.apache.spark.sql.Row = {
      drop(t2, s"${t2}_docs")
      TextOps.appendBm25Postings(
        spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id").isin(surviving: _*)), t2)
      stats(t2)
    }
    val qt = Seq((1, "window"), (1, "spark"), (2, "data"), (2, "hash"))
      .toDF("q_id", "token")
    def scores(pt: DataFrame, stt: DataFrame) =
      TextOps.bm25ScoreIncr(qt, pt, stt).collect()
        .map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2))).toMap
    try {
      streaming.StreamingOps.streamingBm25Ingest(spark, dir, t)
      TextOps.deleteBm25Docs(spark, t, Seq(2L, 4L).toDF("doc_id"))
      // MEMBER LOSS: the `_docs` twin vanishes out from under the family
      spark.sql(s"DROP TABLE ${t}_docs")
      streaming.StreamingOps.streamingBm25Ingest(spark, dir, t)
      val want = survivorStats(Seq(1L, 3L, 5L))
      assert(stats(t) === want, "rebuilt stats still count tombstoned docs")
      val (lp, ls) = TextOps.liveBm25(spark, t, "")
      val got = scores(lp, ls)
      assert(got === scores(spark.table(t2),
        TextOps.liveBm25(spark, t2, "")._2))
      assert(got.nonEmpty)
      // a re-delete of the same ids must not move the stats
      TextOps.deleteBm25Docs(spark, t, Seq(2L, 4L).toDF("doc_id"))
      assert(stats(t) === want)
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
