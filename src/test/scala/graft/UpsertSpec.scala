package graft

import graft.operators.{Ann, AnnIndex, BqIndex, IvfIndex, PqIndex, SqIndex, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IN-PLACE UPSERT — the lifecycle op VERDICT r13 named first: the
  * delete contract makes ids terminal, so a re-crawled document or
  * re-embedded vector had no refresh path. Upsert supersedes content
  * through finite GENERATION BARRIERS (TextOps.tombstone's r14
  * extension): the incoming ids barrier at a fresh gen g (killing
  * every older generation), the replacement rows append stamped g
  * (riding above the barrier), and a plain delete stays terminal at
  * the MaxValue ceiling. The invariant gated for EVERY family, at
  * dim 64 AND 128 for the vector families: after upsert(batch), the
  * probe is IDENTICAL to the same probe against an index built from
  * scratch over the FINAL corpus state — insert-or-replace included,
  * replayed batches included — and after vacuum the superseded rows
  * are physically gone with probes unchanged.
  */
class UpsertSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  /** The WideDimSpec deterministic corpus (ids dense from 0; 7 = NULL
    * embedding, 11 = exact zero), restricted to the live band. */
  private def vecsV1(dim: Int, n: Int = 60): DataFrame = {
    val sp = spark
    import sp.implicits._
    (0L until n.toLong).map { id =>
      val emb: Option[Seq[Double]] =
        if (id == 7L) None
        else if (id == 11L) Some(Seq.fill(dim)(0.0))
        else Some((0 until dim).map(j =>
          (((id * 31 + j * 17 + id * j) % 23) - 11).toDouble))
      (id, emb, s"l${id % 5}")
    }.toDF("vec_id", "embedding", "label")
  }

  /** The upsert batch: ids 20-23 re-embedded with a DIFFERENT
    * deterministic formula, ids 200-201 brand new (the insert leg). */
  private def vecsChanged(dim: Int): DataFrame = {
    val sp = spark
    import sp.implicits._
    ((20L until 24L) ++ Seq(200L, 201L)).map { id =>
      (id, Some((0 until dim).map(j =>
        (((id * 13 + j * 7 + 3) % 19) - 9).toDouble): Seq[Double]),
        s"l${id % 5}")
    }.toDF("vec_id", "embedding", "label")
  }

  /** corpus state AFTER the upsert: v1 minus the changed ids, plus
    * the batch — what a from-scratch build must be fed. */
  private def vecsFinal(dim: Int): DataFrame =
    vecsV1(dim).join(vecsChanged(dim).select("vec_id"),
      Seq("vec_id"), "left_anti").unionByName(vecsChanged(dim))

  test("BM25 upsert equals a from-scratch build over the final corpus") {
    val t = s"ups_bm25_p$pid"
    val t2 = s"ups_bm25_twin_p$pid"
    val t3 = s"ups_bm25_surv_p$pid"
    val all = Seq(t, s"${t}_stats", s"${t}_del", s"${t}_del_stage",
      s"${t}_compact", s"${t}_old", t2, s"${t2}_stats",
      t3, s"${t3}_stats")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      def docs(rows: Seq[(Long, String)]) =
        rows.toDF("doc_id", "text")
      val v1 = docs(Seq(
        1L -> "spark join window fast",
        2L -> "window window hash",
        3L -> "hash scan merge fast",
        4L -> "customer order data stream",
        5L -> "spark data window join"))
      // 2,4 re-crawled with new text; 6 never seen (insert leg)
      val batch = docs(Seq(
        2L -> "hash join spark spark window",
        4L -> "data data merge scan",
        6L -> "stream stream order customer fast"))
      val fin = v1.join(batch.select("doc_id"), Seq("doc_id"),
        "left_anti").unionByName(batch)
      TextOps.appendBm25Postings(v1, t, s"${t}_stats")
      TextOps.upsertBm25Docs(spark, t, s"${t}_stats", batch)
      TextOps.appendBm25Postings(fin, t2, s"${t2}_stats")

      val qt = Seq((1, "window"), (1, "spark"), (2, "data"),
        (2, "hash"), (3, "stream")).toDF("q_id", "token")
      def scores(pt: DataFrame, st: DataFrame) =
        TextOps.bm25ScoreIncr(qt, pt, st).collect()
          .map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2))).toMap
      def stats(st: String) =
        spark.table(st).select("n_docs", "sum_dl").collect()(0)
      val (lp, ls) = TextOps.liveBm25(spark, t, s"${t}_stats")
      val want = scores(spark.table(t2), spark.table(s"${t2}_stats"))
      assert(scores(lp, ls) === want)
      assert(want.nonEmpty)
      assert(stats(s"${t}_stats") === stats(s"${t2}_stats"))

      // REPLAYED batch: a redelivered upsert re-supersedes at a higher
      // barrier — served content must not move
      TextOps.upsertBm25Docs(spark, t, s"${t}_stats", batch)
      val (lp2, ls2) = TextOps.liveBm25(spark, t, s"${t}_stats")
      assert(scores(lp2, ls2) === want)
      assert(stats(s"${t}_stats") === stats(s"${t2}_stats"))

      // vacuum folds: superseded generations physically gone, list
      // dropped, probes unchanged, gens reset to 0 (byte-parity with
      // the from-scratch twin's layout)
      TextOps.vacuumIndex(spark, s"${t}_del", Seq(t), "doc_id")
      assert(!spark.catalog.tableExists(s"${t}_del"))
      val (lp3, ls3) = TextOps.liveBm25(spark, t, s"${t}_stats")
      assert(scores(lp3, ls3) === want)
      assert(spark.table(t).filter(col("gen") =!= 0L).isEmpty)
      // one physical row set per (token, doc): the old generations of
      // 2 and 4 are gone, not shadowed
      assert(spark.table(t).count() === spark.table(t2).count())

      // terminal delete STAYS terminal through an upsert attempt —
      // and the dead content is dropped at the door: its rows never
      // land AND its (count, dl) never touch the stats, so scores and
      // stats stay bit-identical to a from-scratch build over the
      // survivors (letting the rows through would leave probes clean
      // but inflate n_docs/sum_dl, skewing every IDF)
      TextOps.deleteBm25Docs(spark, t, s"${t}_stats",
        Seq(6L).toDF("doc_id"))
      TextOps.upsertBm25Docs(spark, t, s"${t}_stats",
        docs(Seq(6L -> "resurrection attempt")))
      val (lp4, ls4) = TextOps.liveBm25(spark, t, s"${t}_stats")
      assert(!scores(lp4, ls4).keys.exists(_._2 == 6L))
      TextOps.appendBm25Postings(
        fin.filter(col("doc_id") =!= 6L), t3, s"${t3}_stats")
      assert(scores(lp4, ls4) ===
        scores(spark.table(t3), spark.table(s"${t3}_stats")))
      assert(stats(s"${t}_stats") === stats(s"${t3}_stats"))
    } finally drop(all: _*)
  }

  test("band upsert equals a from-scratch build over the final corpus") {
    val t = s"ups_band_p$pid"
    val t2 = s"ups_band_twin_p$pid"
    val all = Seq(t, s"${t}_del", s"${t}_compact", s"${t}_old", t2)
    drop(all: _*)
    try {
      val docs = Tables(spark, sf, "documents")
      val v1 = docs.filter(col("doc_id") < 200)
      // re-crawl 10-19 with the text of docs 300-309 (guaranteed
      // different shingles), insert 210-214
      val batch = docs.filter(col("doc_id") >= 300 && col("doc_id") < 310)
        .withColumn("doc_id", col("doc_id") - 290)
        .unionByName(docs.filter(col("doc_id") >= 210 &&
          col("doc_id") < 215))
      val fin = v1.join(batch.select("doc_id"), Seq("doc_id"),
        "left_anti").unionByName(batch)
      val probeDocs = docs.filter(col("doc_id") >= 400 &&
        col("doc_id") < 460)
      TextOps.writeBandIndex(v1, t)
      TextOps.upsertBandDocs(spark, t, batch)
      TextOps.writeBandIndex(fin, t2)
      def pairs(index: DataFrame) =
        TextOps.nearDupsAgainstIndex(probeDocs, index).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = pairs(TextOps.liveBandIndex(spark, t))
      assert(got === pairs(spark.table(t2)))
      TextOps.bandFamily(t).vacuum(spark)
      assert(pairs(TextOps.liveBandIndex(spark, t)) === got)
      assert(spark.table(t).filter(col("gen") =!= 0L).isEmpty)
      assert(spark.table(t).count() === spark.table(t2).count())
    } finally drop(all: _*)
  }

  for (dim <- Seq(64, 128)) {
    test(s"dim $dim: ANN/BQ/SQ/PQ/IVF upsert equals from-scratch; vacuum folds") {
      val base = s"ups_fam_${dim}_p$pid"
      val annv = s"${base}_annv"
      val fams = Seq("ann", "bq", "sq", "pq", "ivf")
      val all = (fams.flatMap { f =>
        val t = s"${base}_$f"
        Seq(t, s"${t}_vec", s"${t}_cent", s"${t}_cb", s"${t}_cfg",
          s"${t}_del", s"${t}_compact", s"${t}_old",
          s"${t}_vec_compact", s"${t}_vec_old",
          s"${t}2", s"${t}2_vec", s"${t}2_cent", s"${t}2_cb",
          s"${t}2_cfg")
      }) ++ Seq(annv, s"${annv}_vec", s"${annv}_cfg")
      drop(all: _*)
      try {
        val v1 = vecsV1(dim)
        val batch = vecsChanged(dim)
        val fin = vecsFinal(dim)
        // shared exact-vector payload for the BQ rerank leg — built
        // over the FINAL corpus (both sides read the same payloads)
        AnnIndex.write(fin, annv, nBands = 4, bits = 2, dim = dim)
        val sp = spark
        import sp.implicits._
        val qv = fin.filter(col("vec_id") < 3 || col("vec_id") === 21L)
          .select(col("vec_id"),
            expr(s"coalesce(CAST(embedding AS ARRAY<DOUBLE>), " +
              s"array_repeat(CAST(0 AS DOUBLE), $dim))").as("v"))
        val isQ: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
          c => c < 3 || c === 21L
        val probes: Map[String, String => Map[(Long, Long), Double]] = Map(
          "ann" -> (t => AnnIndex.topK(spark, t, isQ, k = 4).collect()
            .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap),
          "bq" -> (t => BqIndex.topK(spark, t, s"${annv}_vec", isQ, k = 4)
            .collect()
            .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap),
          "sq" -> (t => SqIndex.topK(spark, t, isQ, k = 4).collect()
            .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap),
          "pq" -> (t => PqIndex.topK(spark, t, qv, k = 4).collect()
            .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap),
          "ivf" -> (t => IvfIndex.topK(spark, t, isQ, k = 4).collect()
            .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap))
        def write(f: String, t: String, e: DataFrame): Unit = f match {
          case "ann" => AnnIndex.write(e, t, nBands = 4, bits = 2,
            dim = dim)
          case "bq" => BqIndex.write(e, t, dim = dim)
          case "sq" => SqIndex.write(e, t, dim = dim)
          case "pq" => PqIndex.write(e, t,
            m = 4, subDim = dim / 4, ks = 8)
          case "ivf" => IvfIndex.write(e, t, k = 4, dim = dim)
        }
        def upsert(f: String, t: String): Unit = f match {
          case "ann" => AnnIndex.upsert(batch, t, nBands = 4, bits = 2,
            dim = dim)
          case "bq" => BqIndex.upsert(batch, t, dim = dim)
          case "sq" => SqIndex.upsert(batch, t, dim = dim)
          case "pq" => PqIndex.upsert(batch, t)
          case "ivf" => IvfIndex.upsert(batch, t)
        }
        // the from-scratch twin over the FINAL corpus — with the SAME
        // quantizer as the upserted index for the frozen families
        // (upsert changes what answers, never how it's scored)
        def writeScratch(f: String, t: String): Unit = f match {
          case "ivf" =>
            IvfIndex.write(v1, t, k = 4, dim = dim)
            spark.sql(s"DROP TABLE $t")
            IvfIndex.append(fin, t)
          case "pq" =>
            PqIndex.trainCodebook(v1, t, m = 4, subDim = dim / 4,
              ks = 8)
            PqIndex.append(fin, t)
          case _ => write(f, t, fin)
        }
        def vacuum(f: String, t: String): Unit = f match {
          case "ann" => AnnIndex.family(t).vacuum(spark)
          case "bq" => BqIndex.family(t).vacuum(spark)
          case "sq" => SqIndex.family(t).vacuum(spark)
          case "pq" => PqIndex.family(t).vacuum(spark)
          case "ivf" => IvfIndex.family(t).vacuum(spark)
        }
        fams.foreach { f =>
          val t = s"${base}_$f"
          write(f, t, v1)
          upsert(f, t)
          writeScratch(f, s"${t}2")
          val got = probes(f)(t)
          assert(got === probes(f)(s"${t}2"), s"family $f post-upsert")
          assert(got.nonEmpty, s"family $f empty probe")
          // REPLAY: the same batch again must not move the answers
          upsert(f, t)
          assert(probes(f)(t) === got, s"family $f replayed upsert")
          vacuum(f, t)
          assert(!spark.catalog.tableExists(s"${t}_del"), f)
          assert(spark.table(t).filter(col("gen") =!= 0L).isEmpty, f)
          assert(probes(f)(t) === got, s"family $f post-vacuum")
        }
      } finally drop(all: _*)
    }
  }

  test("refresh after upserts: re-materialized rows ride at the top " +
      "barrier (IVF + PQ), and terminal deletes survive the retrain") {
    // the hazard this gates: refresh rewrites the whole member from
    // the caller's corpus frame — if those rows were stamped gen 0
    // (the naive choice) the surviving upsert BARRIERS in `_del`
    // would kill every refreshed row of an upserted id, silently
    // emptying it from probes. The engine stamps them at the top
    // finite generation instead; this is the spec for that rule.
    val dim = 64
    val t = s"ups_rfr_ivf_p$pid"
    val pt = s"ups_rfr_pq_p$pid"
    val all = Seq(t, s"${t}_cent", s"${t}_del", s"${t}_swap",
      s"${t}_compact", s"${t}_old", s"${t}_cent_compact",
      s"${t}_cent_old", s"${t}2", s"${t}2_cent",
      pt, s"${pt}_cb", s"${pt}_del", s"${pt}_swap", s"${pt}_compact",
      s"${pt}_old", s"${pt}_cb_compact", s"${pt}_cb_old",
      s"${pt}2", s"${pt}2_cb")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val v1 = vecsV1(dim)
      val batch = vecsChanged(dim)
      val fin = vecsFinal(dim)
      val isQ: org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column = c => c < 3 || c === 21L

      IvfIndex.write(v1, t, k = 4, dim = dim)
      IvfIndex.upsert(batch, t)
      IvfIndex.refresh(fin, t)
      IvfIndex.write(fin, s"${t}2", k = 4, dim = dim)
      def ivfProbe(x: String) = IvfIndex.topK(spark, x, isQ, k = 4)
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
      val got = ivfProbe(t)
      assert(got === ivfProbe(s"${t}2"), "ivf post-refresh")
      // the upserted id still answers (gen-0 stamping would kill it)
      assert(got.keys.exists(_._1 == 21L), got.keys.toString)
      // a terminal delete lands on the refreshed rows too
      IvfIndex.family(t).delete(spark, Seq(21L).toDF("vec_id"))
      assert(!ivfProbe(t).keys.exists(_._1 == 21L))

      PqIndex.write(v1, pt, m = 4, subDim = dim / 4, ks = 8)
      PqIndex.upsert(batch, pt)
      PqIndex.refresh(fin, pt)
      PqIndex.write(fin, s"${pt}2", m = 4, subDim = dim / 4, ks = 8)
      val qv = fin.filter(col("vec_id") < 3 || col("vec_id") === 21L)
        .select(col("vec_id"),
          expr(s"coalesce(CAST(embedding AS ARRAY<DOUBLE>), " +
            s"array_repeat(CAST(0 AS DOUBLE), $dim))").as("v"))
      def pqProbe(x: String) = PqIndex.topK(spark, x, qv, k = 4)
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val gotPq = pqProbe(pt)
      assert(gotPq === pqProbe(s"${pt}2"), "pq post-refresh")
      assert(gotPq.keys.exists(_._1 == 21L))
    } finally drop(all: _*)
  }

  test("streaming CDC upserts: document + vector twins equal batch") {
    val base = s"ups_cdc_p$pid"
    val vbase = s"ups_vcdc_p$pid"
    val docT = s"${base}_bm25"
    val bandT = s"${base}_band"
    val all = Seq(docT, s"${docT}_stats", s"${docT}_del",
      s"${docT}_del_stage", bandT, s"${bandT}_del",
      s"${base}_ups_ledger",
      s"${vbase}_ann", s"${vbase}_ann_vec", s"${vbase}_ann_cfg",
      s"${vbase}_ann_del", s"${vbase}_bq", s"${vbase}_bq_cfg",
      s"${vbase}_bq_del", s"${vbase}_sq", s"${vbase}_sq_cfg",
      s"${vbase}_sq_del", s"${vbase}_pq", s"${vbase}_pq_cb",
      s"${vbase}_pq_del", s"${vbase}_ivf", s"${vbase}_ivf_cent",
      s"${vbase}_ivf_del", s"${vbase}_vups_ledger")
    drop(all: _*)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cdc_ups").toString
    val vdir = java.nio.file.Files
      .createTempDirectory("graft_cdc_vups").toString
    def cleanupCk(t: String): Unit = {
      val ck = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase + "_ck")
      val fs = ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(ck, true); ()
    }
    try {
      val sp = spark
      import sp.implicits._
      // ---- documents ----
      val v1 = Seq(
        1L -> "spark join window fast",
        2L -> "window window hash",
        3L -> "hash scan merge fast").toDF("doc_id", "text")
      TextOps.appendBm25Postings(v1, docT, s"${docT}_stats")
      TextOps.appendBandIndex(v1, bandT)
      // two CDC files, explicit mod-time order: file B supersedes
      // file A's version of doc 2
      val fA = Seq(2L -> "hash join spark", 4L -> "data data merge")
        .toDF("doc_id", "text")
      val fB = Seq(2L -> "stream order customer spark")
        .toDF("doc_id", "text")
      fA.coalesce(1).write.mode("append").parquet(dir)
      fB.coalesce(1).write.mode("append").parquet(dir)
      val fsp = new org.apache.hadoop.fs.Path(dir)
      val fs = fsp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val parts = fs.listStatus(fsp)
        .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getModificationTime)
      // fA's part is the older one; force an unambiguous 10s gap
      parts.zipWithIndex.foreach { case (st, i) =>
        fs.setTimes(st.getPath, st.getModificationTime + i * 10000L, -1L)
      }
      streaming.StreamingOps.streamingUpserts(spark, dir,
        streaming.IndexGroup.documents(base))
      // batch reference: the same two upserts in the same order
      val refT = s"${base}_ref"
      drop(refT, s"${refT}_stats", s"${refT}_del", s"${refT}_band")
      TextOps.appendBm25Postings(v1, refT, s"${refT}_stats")
      TextOps.upsertBm25Docs(spark, refT, s"${refT}_stats", fA)
      TextOps.upsertBm25Docs(spark, refT, s"${refT}_stats", fB)
      val qt = Seq((1, "spark"), (1, "hash"), (2, "data"), (2, "stream"))
        .toDF("q_id", "token")
      def scores(t: String) = {
        val (p, st) = TextOps.liveBm25(spark, t, s"${t}_stats")
        TextOps.bm25ScoreIncr(qt, p, st).collect()
          .map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2))).toMap
      }
      assert(scores(docT) === scores(refT))
      assert(scores(docT).nonEmpty)
      // IDEMPOTENT re-invocation: no new files → nothing changes
      streaming.StreamingOps.streamingUpserts(spark, dir,
        streaming.IndexGroup.documents(base))
      assert(scores(docT) === scores(refT))
      drop(refT, s"${refT}_stats", s"${refT}_del")

      // ---- vectors ----
      val dim = 64
      val vv1 = vecsV1(dim)
      val vbatch = vecsChanged(dim)
      AnnIndex.write(vv1, s"${vbase}_ann", nBands = 4, bits = 2,
        dim = dim)
      BqIndex.write(vv1, s"${vbase}_bq", dim = dim)
      SqIndex.write(vv1, s"${vbase}_sq", dim = dim)
      PqIndex.write(vv1, s"${vbase}_pq", m = 4, subDim = dim / 4,
        ks = 8)
      IvfIndex.write(vv1, s"${vbase}_ivf", k = 4, dim = dim)
      vbatch.coalesce(1).write.mode("append").parquet(vdir)
      streaming.StreamingOps.streamingUpserts(spark, vdir,
        streaming.IndexGroup.vectors(vbase))
      // twin: the batch upserts applied directly
      val tws = fams2(vbase + "2")
      drop(tws: _*)
      AnnIndex.write(vv1, s"${vbase}2_ann", nBands = 4, bits = 2,
        dim = dim)
      AnnIndex.upsert(vbatch, s"${vbase}2_ann", nBands = 4, bits = 2,
        dim = dim)
      def annProbe(t: String) =
        AnnIndex.topK(spark, t, c => c < 3 || c === 21L, k = 4)
          .collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(annProbe(s"${vbase}_ann") === annProbe(s"${vbase}2_ann"))
      assert(annProbe(s"${vbase}_ann").nonEmpty)
      // the other four families took the same barrier path — spot-check
      // SQ (stateless) and IVF (frozen quantizer)
      SqIndex.write(vv1, s"${vbase}2_sq", dim = dim)
      SqIndex.upsert(vbatch, s"${vbase}2_sq", dim = dim)
      def sqProbe(t: String) =
        SqIndex.topK(spark, t, c => c < 3 || c === 21L, k = 4).collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(sqProbe(s"${vbase}_sq") === sqProbe(s"${vbase}2_sq"))
      IvfIndex.write(vv1, s"${vbase}2_ivf", k = 4, dim = dim)
      IvfIndex.upsert(vbatch, s"${vbase}2_ivf")
      def ivfProbe(t: String) =
        IvfIndex.topK(spark, t, c => c < 3 || c === 21L, k = 4)
          .collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
      assert(ivfProbe(s"${vbase}_ivf") === ivfProbe(s"${vbase}2_ivf"))
      drop(tws: _*)
    } finally {
      drop(all: _*)
      drop(s"${base}_ref", s"${base}_ref_stats", s"${base}_ref_del")
      Seq(s"${base}_ups", s"${vbase}_vups").foreach(cleanupCk)
    }
  }

  test("full rebuild over an upserted family rides above surviving " +
      "barriers (write-after-upsert, ADVICE r14)") {
    // the hazard: write() rewrites the whole family from the caller's
    // corpus frame, but the `_del` list — with its finite upsert
    // barriers — SURVIVES the overwrite. Rows stamped gen 0 (the
    // naive choice, and the pre-r15 behavior) sit strictly below
    // every upserted id's surviving barrier, so exceptTombstones
    // silently drops those ids from all probes. The engine stamps
    // rebuilt rows at the top finite barrier (TextOps.rebuildGen);
    // terminal deletes still kill their ids through any rebuild.
    val dim = 64
    val base = s"ups_rb_${dim}_p$pid"
    val annv = s"${base}_annv"
    val fams = Seq("ann", "bq", "sq", "pq", "ivf")
    val all = (fams.flatMap { f =>
      val t = s"${base}_$f"
      Seq(t, s"${t}_vec", s"${t}_cent", s"${t}_cb", s"${t}_cfg",
        s"${t}_del", s"${t}2", s"${t}2_vec", s"${t}2_cent",
        s"${t}2_cb", s"${t}2_cfg")
    }) ++ Seq(annv, s"${annv}_vec", s"${annv}_cfg")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val v1 = vecsV1(dim)
      val batch = vecsChanged(dim)
      val fin = vecsFinal(dim)
      AnnIndex.write(fin, annv, nBands = 4, bits = 2, dim = dim)
      val qv = fin.filter(col("vec_id") < 3 || col("vec_id") === 21L)
        .select(col("vec_id"),
          expr(s"coalesce(CAST(embedding AS ARRAY<DOUBLE>), " +
            s"array_repeat(CAST(0 AS DOUBLE), $dim))").as("v"))
      val isQ: org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column = c => c < 3 || c === 21L
      val probes: Map[String, String => Map[(Long, Long), Double]] = Map(
        "ann" -> (t => AnnIndex.topK(spark, t, isQ, k = 4).collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap),
        "bq" -> (t => BqIndex.topK(spark, t, s"${annv}_vec", isQ, k = 4)
          .collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap),
        "sq" -> (t => SqIndex.topK(spark, t, isQ, k = 4).collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap),
        "pq" -> (t => PqIndex.topK(spark, t, qv, k = 4).collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap),
        "ivf" -> (t => IvfIndex.topK(spark, t, isQ, k = 4).collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap))
      def write(f: String, t: String, e: DataFrame): Unit = f match {
        case "ann" => AnnIndex.write(e, t, nBands = 4, bits = 2,
          dim = dim)
        case "bq" => BqIndex.write(e, t, dim = dim)
        case "sq" => SqIndex.write(e, t, dim = dim)
        case "pq" => PqIndex.write(e, t, m = 4, subDim = dim / 4,
          ks = 8)
        case "ivf" => IvfIndex.write(e, t, k = 4, dim = dim)
      }
      def upsert(f: String, t: String): Unit = f match {
        case "ann" => AnnIndex.upsert(batch, t, nBands = 4, bits = 2,
          dim = dim)
        case "bq" => BqIndex.upsert(batch, t, dim = dim)
        case "sq" => SqIndex.upsert(batch, t, dim = dim)
        case "pq" => PqIndex.upsert(batch, t)
        case "ivf" => IvfIndex.upsert(batch, t)
      }
      def delete(f: String, t: String, id: Long): Unit = {
        val ids = Seq(id).toDF("vec_id")
        f match {
          case "ann" => AnnIndex.family(t).delete(spark, ids)
          case "bq" => BqIndex.family(t).delete(spark, ids)
          case "sq" => SqIndex.family(t).delete(spark, ids)
          case "pq" => PqIndex.family(t).delete(spark, ids)
          case "ivf" => IvfIndex.family(t).delete(spark, ids)
        }
      }
      fams.foreach { f =>
        val t = s"${base}_$f"
        write(f, t, v1)
        upsert(f, t)
        // FULL REBUILD over the final corpus, barriers surviving
        write(f, t, fin)
        write(f, s"${t}2", fin) // fresh twin, no history
        val got = probes(f)(t)
        assert(got === probes(f)(s"${t}2"), s"family $f post-rebuild")
        // the upserted id answers — gen-0 stamping would have dropped
        // every rebuilt row of id 21 below its surviving barrier
        assert(got.keys.exists(_._1 == 21L), s"family $f lost id 21")
        // a terminal delete lands on rebuilt rows... (candidate side
        // for every family; the query side too except PQ, whose
        // queries are EXTERNAL vectors that keep asking post-delete)
        def answers21(ks: Iterable[(Long, Long)]) =
          ks.exists(p => p._2 == 21L || (f != "pq" && p._1 == 21L))
        delete(f, t, 21L)
        assert(!answers21(probes(f)(t).keys),
          s"family $f delete post-rebuild")
        // ...and SURVIVES the next rebuild even when the corpus still
        // carries the id (rebuilt rows ride at a finite gen, below
        // the terminal ceiling)
        write(f, t, fin)
        assert(!answers21(probes(f)(t).keys),
          s"family $f resurrected id 21 through a rebuild")
      }
    } finally drop(all: _*)
  }

  test("band rebuild over an upserted index rides above surviving " +
      "barriers (write-after-upsert, ADVICE r14)") {
    val t = s"ups_rb_band_p$pid"
    val t2 = s"ups_rb_band_twin_p$pid"
    val all = Seq(t, s"${t}_del", t2)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val docs = Tables(spark, sf, "documents")
      val v1 = docs.filter(col("doc_id") < 200)
      val batch = docs.filter(col("doc_id") >= 300 && col("doc_id") < 310)
        .withColumn("doc_id", col("doc_id") - 290)
        .unionByName(docs.filter(col("doc_id") >= 210 &&
          col("doc_id") < 215))
      val fin = v1.join(batch.select("doc_id"), Seq("doc_id"),
        "left_anti").unionByName(batch)
      // probe with the FINAL text of the low ids: probe doc 10 is
      // bit-identical to the rebuilt index's (upserted) doc 10, so
      // the (10, 10) self-pair is guaranteed — the delete leg below
      // cannot pass vacuously
      val probeDocs = fin.filter(col("doc_id") < 30)
      def pairs(index: DataFrame) =
        TextOps.nearDupsAgainstIndex(probeDocs, index).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      TextOps.writeBandIndex(v1, t)
      TextOps.upsertBandDocs(spark, t, batch)
      TextOps.writeBandIndex(fin, t) // rebuild, barriers surviving
      TextOps.writeBandIndex(fin, t2)
      val got = pairs(TextOps.liveBandIndex(spark, t))
      assert(got === pairs(spark.table(t2)))
      // the upserted id collides (gen-0 stamping would have dropped
      // every rebuilt row of id 10 below its surviving barrier)
      assert(got.contains((10L, 10L)), got.toString)
      // terminal delete survives a further rebuild
      TextOps.bandFamily(t).delete(spark, Seq(10L).toDF("doc_id"))
      TextOps.writeBandIndex(fin, t)
      assert(!pairs(TextOps.liveBandIndex(spark, t))
        .exists(_._2 == 10L))
    } finally drop(all: _*)
  }

  private def fams2(b: String): Seq[String] =
    Seq(s"${b}_ann", s"${b}_ann_vec", s"${b}_ann_cfg", s"${b}_ann_del",
      s"${b}_sq", s"${b}_sq_cfg", s"${b}_sq_del",
      s"${b}_ivf", s"${b}_ivf_cent", s"${b}_ivf_del")
}
