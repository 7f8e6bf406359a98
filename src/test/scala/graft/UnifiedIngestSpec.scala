package graft

import graft.operators.{AnnIndex, BqIndex, IvfIndex, PqIndex, SqIndex, TextOps, TrainingData}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** One-call ingest composition (VERDICT r12 #7): "a batch arrived" is
  * ONE call that maintains every index of the modality — and the
  * unified loops must produce BIT-IDENTICAL tables to maintaining each
  * index independently on the same batches, because they go through
  * the same per-family append definitions.
  */
class UnifiedIngestSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()
  private def emb = Tables(spark, sf, "embeddings")
  private def docs = Tables(spark, sf, "documents")

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def rmCk(bases: String*): Unit = bases.foreach { t =>
    val ck = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase + "_ck")
    ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(ck, true)
  }

  private def strings(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("streamingDocumentIngest equals independent maintenance + dedups") {
    val base = s"uni_doc_p$pid"
    val dir = java.nio.file.Files.createTempDirectory("graft_unidoc")
      .toString
    val members = Seq(s"${base}_band", s"${base}_bm25",
      s"${base}_bm25_docs", s"${base}_hashes", s"${base}_ledger")
    val indep = Seq(s"${base}_iband", s"${base}_ibm25", s"${base}_ibm25_docs")
    drop(members ++ indep: _*)
    try {
      def halfD(m: Int) = docs.filter(pmod(col("doc_id"), lit(2)) === m)
      halfD(0).write.mode("append").parquet(s"$dir/documents.parquet")
      streaming.StreamingOps.streamingDocumentIngest(spark, dir, base)
      // second stage re-ships the FULL corpus: the already-ingested
      // half must be exact-dedup-skipped (content hashes), only the
      // other half lands — a re-staged corpus can never double-index
      docs.write.mode("append").parquet(s"$dir/documents.parquet")
      streaming.StreamingOps.streamingDocumentIngest(spark, dir, base)

      // independent maintenance over the same effective batches: the
      // gated first half, then the gated second half (the first half's
      // re-delivery deduped away)
      val g0 = TrainingData.curateGate(halfD(0))
      val g1 = TrainingData.curateGate(halfD(1))
      TextOps.appendBandIndex(g0, s"${base}_iband")
      TextOps.appendBandIndex(g1, s"${base}_iband")
      TextOps.appendBm25Postings(g0, s"${base}_ibm25")
      TextOps.appendBm25Postings(g1, s"${base}_ibm25")

      assert(strings(spark.table(s"${base}_band")) ===
        strings(spark.table(s"${base}_iband")))
      assert(strings(spark.table(s"${base}_bm25")) ===
        strings(spark.table(s"${base}_ibm25")))
      assert(strings(TextOps.liveBm25(spark, s"${base}_bm25", "")._2) ===
        strings(TextOps.liveBm25(spark, s"${base}_ibm25", "")._2))
      assert(spark.table(s"${base}_band").count() > 0)
      // the hash store holds exactly the gated corpus, once
      assert(spark.table(s"${base}_hashes").count() ===
        TrainingData.curateGate(docs).count())
    } finally {
      drop(members ++ indep: _*)
      rmCk(base)
    }
  }

  test("ingest → delete → ingest → vacuum: deleted docs never resurface") {
    val base = s"uni_life_p$pid"
    val dir = java.nio.file.Files.createTempDirectory("graft_unilife")
      .toString
    val members = Seq(s"${base}_band", s"${base}_band_del",
      s"${base}_band_compact", s"${base}_band_old",
      s"${base}_bm25", s"${base}_bm25_del", s"${base}_bm25_compact",
      s"${base}_bm25_old", s"${base}_bm25_docs", s"${base}_hashes",
      s"${base}_ledger")
    drop(members: _*)
    try {
      val sp = spark
      import sp.implicits._
      def halfD(m: Int) = docs.filter(pmod(col("doc_id"), lit(2)) === m)
      halfD(0).write.mode("append").parquet(s"$dir/documents.parquet")
      streaming.StreamingOps.streamingDocumentIngest(spark, dir, base)
      // victims from the ingested half
      val victims = (0L until 60L by 2L).toDF("doc_id")
      streaming.StreamingOps.deleteDocuments(spark, base, victims)
      // more batches arrive AFTER the delete
      halfD(1).write.mode("append").parquet(s"$dir/documents.parquet")
      streaming.StreamingOps.streamingDocumentIngest(spark, dir, base)
      def deadBand() = TextOps.liveBandIndex(spark, s"${base}_band")
        .filter(col("old_id") < 60L && col("old_id") % 2 === 0).count()
      def deadBm25() = {
        val (p, _) = TextOps.liveBm25(spark, s"${base}_bm25", "")
        p.filter(col("doc_id") < 60L && col("doc_id") % 2 === 0).count()
      }
      assert(deadBand() === 0L)
      assert(deadBm25() === 0L)
      // stats reflect live docs only: gated corpus minus the victims
      // that were actually indexed
      val gated = TrainingData.curateGate(docs)
      val liveN = gated.join(victims, Seq("doc_id"), "left_anti").count()
      assert(TextOps.liveBm25(spark, s"${base}_bm25", "")._2.collect()(0)
        .getLong(0) === liveN)
      // vacuum folds both lists; the probes see the same live corpus
      streaming.StreamingOps.vacuum(spark, streaming.IndexGroup.documents(base))
      assert(!spark.catalog.tableExists(s"${base}_band_del"))
      assert(!spark.catalog.tableExists(s"${base}_bm25_del"))
      assert(deadBand() === 0L)
      assert(deadBm25() === 0L)
    } finally {
      drop(members: _*)
      rmCk(base)
    }
  }

  test("streamingDocumentDeletes: CDC stream equals direct deletes; replay safe") {
    val base = s"uni_cdc_p$pid"
    val dir = java.nio.file.Files.createTempDirectory("graft_unicdc")
      .toString
    val delDir = java.nio.file.Files.createTempDirectory("graft_unicdcd")
      .toString
    val members = Seq(s"${base}_band", s"${base}_band_del",
      s"${base}_bm25", s"${base}_bm25_del", s"${base}_bm25_docs",
      s"${base}_hashes", s"${base}_ledger", s"${base}_dels_ledger")
    drop(members: _*)
    try {
      val sp = spark
      import sp.implicits._
      docs.write.mode("append").parquet(s"$dir/documents.parquet")
      streaming.StreamingOps.streamingDocumentIngest(spark, dir, base)
      val statsFull =
        TextOps.liveBm25(spark, s"${base}_bm25", "")._2.collect()(0)
      (0L until 30L).toDF("doc_id").write.mode("append")
        .parquet(s"$delDir/dels.parquet")
      streaming.StreamingOps.streamingDeletes(spark,
        s"$delDir/dels.parquet", streaming.IndexGroup.documents(base))
      val statsDel =
        TextOps.liveBm25(spark, s"${base}_bm25", "")._2.collect()(0)
      assert(statsDel.getLong(0) < statsFull.getLong(0))
      def dead() = TextOps.liveBandIndex(spark, s"${base}_band")
        .filter(col("old_id") < 30L).count()
      assert(dead() === 0L)
      // re-run with no new files: the ledger skips everything, stats
      // do not move (the double-subtract guard, stream-shaped)
      streaming.StreamingOps.streamingDeletes(spark,
        s"$delDir/dels.parquet", streaming.IndexGroup.documents(base))
      assert(TextOps.liveBm25(spark, s"${base}_bm25", "")._2
        .collect()(0) === statsDel)
      // a second batch of deletions arrives
      (30L until 40L).toDF("doc_id").write.mode("append")
        .parquet(s"$delDir/dels.parquet")
      streaming.StreamingOps.streamingDeletes(spark,
        s"$delDir/dels.parquet", streaming.IndexGroup.documents(base))
      assert(TextOps.liveBandIndex(spark, s"${base}_band")
        .filter(col("old_id") < 40L).count() === 0L)
    } finally {
      drop(members: _*)
      rmCk(base, s"${base}_dels")
    }
  }

  test("member-loss reset replays the sibling CDC upsert stream " +
      "(ADVICE r14): upserted content survives the reset") {
    // the hazard: the ingest reset drops the members and replays the
    // ORIGINAL corpus — but a sibling upsert stream's ledger and
    // checkpoint would survive, so its CDC files never replay. The
    // replacement rows are gone with the dropped member while the
    // replayed gen-0 originals stay dead under the surviving finite
    // barriers: upserted docs would vanish entirely. The reset now
    // clears the `_ups` pair too, so the next upsert-stream run
    // replays every CDC file and re-supersedes by content.
    val base = s"uni_rst_p$pid"
    val dir = java.nio.file.Files.createTempDirectory("graft_unirst")
      .toString
    val upsDir = java.nio.file.Files.createTempDirectory("graft_unirstu")
      .toString
    val members = Seq(s"${base}_band", s"${base}_band_del",
      s"${base}_bm25", s"${base}_bm25_del", s"${base}_bm25_docs",
      s"${base}_hashes", s"${base}_ledger",
      s"${base}_ups_ledger")
    val ref = Seq(s"${base}_rbm25", s"${base}_rbm25_docs", s"${base}_rbm25_del")
    drop(members ++ ref: _*)
    try {
      val sp = spark
      import sp.implicits._
      docs.write.mode("append").parquet(s"$dir/documents.parquet")
      streaming.StreamingOps.streamingDocumentIngest(spark, dir, base)
      // CDC refresh: docs 10-19 re-crawled with the text of 300-309,
      // doc 9000 never seen before (the insert leg)
      val batch = docs.filter(col("doc_id") >= 300 && col("doc_id") < 310)
        .withColumn("doc_id", col("doc_id") - 290)
        .unionByName(docs.filter(col("doc_id") === 5)
          .withColumn("doc_id", lit(9000L)))
        .select("doc_id", "text")
      batch.coalesce(1).write.mode("append").parquet(upsDir)
      streaming.StreamingOps.streamingUpserts(spark, upsDir,
        streaming.IndexGroup.documents(base))

      // MEMBER LOSS: the band member vanishes; the next ingest call
      // resets the family and replays the original corpus
      spark.sql(s"DROP TABLE ${base}_band")
      streaming.StreamingOps.streamingDocumentIngest(spark, dir, base)
      // ...and the upsert stream, re-invoked with NO new files, must
      // replay its CDC files (its ledger/checkpoint were reset too)
      streaming.StreamingOps.streamingUpserts(spark, upsDir,
        streaming.IndexGroup.documents(base))

      // reference: independent build over the gated corpus + the same
      // upsert applied directly
      val gated = TrainingData.curateGate(docs).select("doc_id", "text")
      TextOps.appendBm25Postings(gated, s"${base}_rbm25")
      TextOps.upsertBm25Docs(spark, s"${base}_rbm25", batch)
      val qt = Seq((1, "the"), (2, "data"), (3, "a")).toDF("q_id", "token")
      def scores(t: String) = {
        val (p, st) = TextOps.liveBm25(spark, t, "")
        TextOps.bm25ScoreIncr(qt, p, st).collect()
          .map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2))).toMap
      }
      def stats(t: String) =
        TextOps.liveBm25(spark, t, "")._2
          .select("n_docs", "sum_dl").collect()(0)
      val got = scores(s"${base}_bm25")
      assert(got === scores(s"${base}_rbm25"))
      assert(got.nonEmpty)
      assert(stats(s"${base}_bm25") === stats(s"${base}_rbm25"))
      // the upserted + inserted docs ANSWER (the vanishing hazard):
      // their postings are live in the recovered index
      val (lp, _) = TextOps.liveBm25(spark, s"${base}_bm25", "")
      assert(lp.filter(col("doc_id") === 10L).count() > 0,
        "upserted doc vanished after member-loss recovery")
      assert(lp.filter(col("doc_id") === 9000L).count() > 0,
        "inserted doc vanished after member-loss recovery")
      // and the band member serves the upserted signature again
      assert(TextOps.liveBandIndex(spark, s"${base}_band")
        .filter(col("old_id") === 10L).count() > 0)
    } finally {
      drop(members ++ ref: _*)
      rmCk(base, s"${base}_ups")
    }
  }

  test("vector member-loss reset: losing the ANN payload resets the " +
      "group, replays the sibling `_vups` stream and drops the audit " +
      "sinks; the upserted vectors serve again after the CDC replay") {
    val base = s"uni_vrst_p$pid"
    val fams = Seq("_ann", "_ann_vec", "_ann_cfg", "_ann_del", "_bq",
      "_bq_cfg", "_bq_del", "_sq", "_sq_cfg", "_sq_del", "_pq", "_pq_cb",
      "_pq_del", "_ivf", "_ivf_cent", "_ivf_del", "_ledger", "_quarantine",
      "_admission", "_vups_ledger", "_vups_quarantine", "_vups_admission")
      .map(base + _)
    val ref = Seq(s"${base}_xann", s"${base}_xann_vec", s"${base}_xann_cfg",
      s"${base}_xann_del")
    val dir = java.nio.file.Files.createTempDirectory("graft_univrst")
      .toString
    val upsDir = java.nio.file.Files.createTempDirectory("graft_univrstu")
      .toString
    def ckExists(t: String) = {
      val ck = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase + "_ck")
      ck.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(ck)
    }
    drop(fams ++ ref: _*)
    rmCk(base, s"${base}_vups")
    try {
      PqIndex.trainCodebook(emb, s"${base}_pq")
      IvfIndex.write(emb.filter(col("vec_id") < 30), s"${base}_ivf")
      spark.sql(s"DROP TABLE ${base}_ivf") // keep only the quantizer
      val rules = Seq[graft.operators.Quality.Rule](
        graft.operators.Quality.Rule.FiniteArray("embedding"))
      val corpus = emb.filter(col("vec_id") < 40).select("vec_id", "embedding")
      corpus.write.mode("append").parquet(s"$dir/embeddings.parquet")
      val g = streaming.IndexGroup.vectors(base)
      streaming.StreamingOps.streamingAllIndexIngest(spark, dir, base,
        admission = rules)
      // CDC: vector 5 re-embedded, vector 9000 new
      val ups = emb.filter(col("vec_id") === 5L)
        .select(col("vec_id"),
          expr("transform(embedding, x -> x + 1.0d)").as("embedding"))
        .unionByName(emb.filter(col("vec_id") === 6L)
          .select(lit(9000L).as("vec_id"), col("embedding")))
      ups.coalesce(1).write.mode("append").parquet(upsDir)
      streaming.StreamingOps.streamingUpserts(spark, upsDir, g,
        admission = rules)
      Seq(s"${base}_quarantine", s"${base}_admission",
        s"${base}_vups_ledger", s"${base}_vups_admission")
        .foreach(t => assert(spark.catalog.tableExists(t), t))
      assert(ckExists(s"${base}_vups"))

      // MEMBER LOSS: the ANN payload vanishes; the next ingest resets
      spark.sql(s"DROP TABLE ${base}_ann_vec")
      streaming.StreamingOps.streamingAllIndexIngest(spark, dir, base)
      assert(spark.catalog.tableExists(s"${base}_ann_vec"))
      Seq(s"${base}_quarantine", s"${base}_admission",
        s"${base}_vups_ledger", s"${base}_vups_quarantine",
        s"${base}_vups_admission")
        .foreach(t => assert(!spark.catalog.tableExists(t), t))
      assert(!ckExists(s"${base}_vups"))
      def live(fam: String, member: String) =
        AnnIndex.family(fam).frames(spark).member(member)
          .select("vec_id", "v", "nrm")
      assert(live(s"${base}_ann", s"${base}_ann_vec")
        .filter(col("vec_id") === 9000L).isEmpty)

      // the CDC stream, re-invoked with no new file, replays its file
      streaming.StreamingOps.streamingUpserts(spark, upsDir, g)
      assert(spark.catalog.tableExists(s"${base}_vups_ledger"))
      // reference: the same corpus and upsert on one independent family
      AnnIndex.append(corpus, s"${base}_xann")
      AnnIndex.upsert(ups, s"${base}_xann")
      assert(strings(live(s"${base}_ann", s"${base}_ann_vec")) ===
        strings(live(s"${base}_xann", s"${base}_xann_vec")))
      Seq(("_bq", BqIndex.family _), ("_sq", SqIndex.family _),
        ("_pq", PqIndex.family _), ("_ivf", IvfIndex.family _)).foreach {
        case (sfx, fam) =>
          val ids = fam(base + sfx).frames(spark).member(base + sfx)
            .select("vec_id").collect().map(_.getLong(0)).toSet
          assert(ids.contains(9000L) && ids.contains(5L), sfx)
      }
    } finally {
      drop(fams ++ ref: _*)
      rmCk(base, s"${base}_vups")
    }
  }

  test("streamingAllIndexIngest equals per-family independent appends") {
    val base = s"uni_vec_p$pid"
    val fams = Seq(s"${base}_ann", s"${base}_ann_vec", s"${base}_ann_cfg",
      s"${base}_bq", s"${base}_bq_cfg", s"${base}_sq", s"${base}_sq_cfg",
      s"${base}_pq", s"${base}_pq_cb", s"${base}_ivf", s"${base}_ivf_cent",
      s"${base}_ledger")
    val indep = Seq(s"${base}_xann", s"${base}_xann_vec",
      s"${base}_xann_cfg", s"${base}_xbq", s"${base}_xbq_cfg",
      s"${base}_xsq", s"${base}_xsq_cfg", s"${base}_xpq", s"${base}_xivf")
    val dir = java.nio.file.Files.createTempDirectory("graft_univec")
      .toString
    drop(fams ++ indep: _*)
    try {
      // frozen-quantizer artifacts must pre-exist — trained on the
      // id-dense front of the corpus, the standard seed contract
      val e = intercept[IllegalArgumentException] {
        streaming.StreamingOps.streamingAllIndexIngest(spark, dir, base)
      }
      assert(e.getMessage.contains("codebook"), e.getMessage)
      PqIndex.trainCodebook(emb, s"${base}_pq")
      IvfIndex.write(emb.filter(col("vec_id") < 30), s"${base}_ivf")
      spark.sql(s"DROP TABLE ${base}_ivf") // keep only the quantizer

      def halfE(m: Int) = emb.filter(pmod(col("vec_id"), lit(2)) === m)
      halfE(0).select("vec_id", "embedding")
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
      streaming.StreamingOps.streamingAllIndexIngest(spark, dir, base)
      halfE(1).select("vec_id", "embedding")
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
      streaming.StreamingOps.streamingAllIndexIngest(spark, dir, base)

      // independent maintenance: same two batches, same definitions
      // (PQ/IVF share the SAME stored artifacts so encodes agree)
      spark.sql(s"CREATE TABLE ${base}_xpq_cb AS " +
        s"SELECT * FROM ${base}_pq_cb")
      spark.sql(s"CREATE TABLE ${base}_xivf_cent AS " +
        s"SELECT * FROM ${base}_ivf_cent")
      Seq(0, 1).foreach { m =>
        AnnIndex.append(halfE(m), s"${base}_xann")
        BqIndex.append(halfE(m), s"${base}_xbq")
        SqIndex.append(halfE(m), s"${base}_xsq")
        PqIndex.append(halfE(m), s"${base}_xpq")
        IvfIndex.append(halfE(m), s"${base}_xivf")
      }
      Seq("_ann", "_ann_vec", "_bq", "_sq", "_pq", "_ivf").foreach { sfx =>
        val x = if (sfx == "_ann_vec") "_xann_vec" else s"_x${sfx.tail}"
        assert(strings(spark.table(base + sfx)) ===
          strings(spark.table(base + x)), sfx)
        assert(spark.table(base + sfx).count() > 0, sfx)
      }
    } finally {
      drop(fams ++ indep ++ Seq(s"${base}_xpq_cb", s"${base}_xivf_cent"): _*)
      rmCk(base)
    }
  }
}
