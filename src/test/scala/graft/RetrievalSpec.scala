package graft

import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** The round-9 corpus-mining trio: q_bm25 (sparse lexical retrieval),
  * q_pmi (bigram collocation lift), q_skyline (Pareto-frontier curation
  * cut). Each is checked against an INDEPENDENT driver-side reference —
  * a from-scratch Okapi implementation, a hand-counted lift, a brute
  * force O(n²) dominance filter — not against the DuckDB oracle (the
  * oracle parity is check_oracle.py's job); these specs pin the
  * semantics even if both engines drifted together.
  */
class RetrievalSpec extends AnyFunSuite with SparkSuite {

  /** Stage a documents.parquet shaped like the harness table; n_chars =
    * text length, matching the generator's convention closely enough
    * for the ops under test (they derive everything else from text).
    */
  private def stage(docs: Seq[(Long, String)]): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_retr").toString
    val sp = spark
    import sp.implicits._
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("NULL-text documents stay in the index's corpus statistics") {
    // ADVICE r11: explode drops NULL arrays, so without tokenTf's
    // coalesce(text, '') a NULL-text doc would vanish from dl/n_docs
    // while q_tfidf's oracle counts it straight off the documents
    // table. Canonicalized, it contributes one '' token — identically
    // to an empty string — on both engines.
    val d = java.nio.file.Files.createTempDirectory("graft_nulltext")
      .toString
    val sp = spark
    import sp.implicits._
    Seq((1L, "spark join", "en", "src0", 10L),
        (2L, null.asInstanceOf[String], "en", "src0", 0L),
        (3L, "", "en", "src0", 0L),
        (4L, "window hash", "en", "src0", 11L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val t = "nulltext_idx_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    try {
      graft.operators.TextOps.writeBm25Index(
        spark.read.parquet(s"$d/documents.parquet"), t)
      val idx = spark.table(t)
      // every doc present; n_docs = 4 everywhere; NULL and '' text both
      // carry the single '' token with dl = 1
      assert(idx.select("n_docs").distinct().collect()
        .map(_.getLong(0)).toSeq === Seq(4L))
      val dl = idx.select("doc_id", "dl").distinct().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dl === Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
      val emptyTok = idx.filter(col("doc_id").isin(2L, 3L))
        .select("token").distinct().collect().map(_.getString(0)).toSeq
      assert(emptyTok === Seq(""))
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("q_bm25 matches a from-scratch Okapi reference, micro-unit exact") {
    val docs = Seq(
      1L -> "spark join join window fast",
      2L -> "window window window",
      3L -> "hash scan merge fast fast scan",
      4L -> "customer order data stream data",
      5L -> "quick brown fox jumps",
      6L -> "spark spark spark join window hash")
    val dir = stage(docs)
    val out = SparkEntry.queries("q_bm25")(spark, dir).collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2))).toMap

    val toks = docs.toMap.view.mapValues(_.trim.split("\\s+").toSeq).toMap
    val nDocs = docs.size
    val avgdl = toks.values.map(_.size).sum.toDouble / nDocs
    val dfm = toks.values.flatMap(_.distinct)
      .groupBy(identity).view.mapValues(_.size).toMap
    // independent reference: same published Okapi formula (k1=1.2,
    // b=0.75, rational idf), scored per doc by direct iteration
    def ref(qtext: String, id: Long): Option[Double] = {
      val tl = toks(id)
      val dl = tl.size
      val micro = qtext.split(" ").toSeq.flatMap { term =>
        val tf = tl.count(_ == term)
        if (tf == 0) None
        else {
          val df = dfm(term)
          val idf = (nDocs - df + 0.5) / (df + 0.5)
          val w = (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
          Some(math.floor(idf * w * 1e6 + 0.5).toLong)
        }
      }
      if (micro.isEmpty) None else Some(micro.sum.toDouble / 1e6)
    }
    // 6 docs < top-10 cap, so EVERY matching (query, doc) pair must
    // appear, with the exact micro-unit score, and nothing else may
    var pairs = 0
    for ((qid, qtext) <- graft.operators.TextOps.Bm25Queries;
         (id, _) <- docs) {
      ref(qtext, id) match {
        case Some(exp) =>
          assert(out.get((qid, id)).contains(exp),
            s"q$qid doc$id: expected $exp got ${out.get((qid, id))}")
          pairs += 1
        case None =>
          assert(!out.contains((qid, id)), s"q$qid doc$id: spurious hit")
      }
    }
    assert(out.size === pairs)
  }

  test("bm25LnRanked matches a from-scratch ln-idf Okapi reference") {
    // same corpus as the rational-idf test; the reference only differs
    // by math.log around the idf — same JVM, same libm, so micro-unit
    // exactness holds. (The precise ln ranking is the LIBRARY surface
    // bm25LnRanked; the registered q_bm25_ln is its oracle-checkable
    // whole-bits-bracket twin — r12 — verified in the next test.)
    val docs = Seq(
      1L -> "spark join join window fast",
      2L -> "window window window",
      3L -> "hash scan merge fast fast scan",
      4L -> "customer order data stream data",
      5L -> "quick brown fox jumps",
      6L -> "spark spark spark join window hash")
    val dir = stage(docs)
    val out = graft.operators.TextOps.bm25LnRanked(spark, dir).collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2))).toMap

    val toks = docs.toMap.view.mapValues(_.trim.split("\\s+").toSeq).toMap
    val nDocs = docs.size
    val avgdl = toks.values.map(_.size).sum.toDouble / nDocs
    val dfm = toks.values.flatMap(_.distinct)
      .groupBy(identity).view.mapValues(_.size).toMap
    def ref(qtext: String, id: Long): Option[Double] = {
      val tl = toks(id)
      val dl = tl.size
      val micro = qtext.split(" ").toSeq.flatMap { term =>
        val tf = tl.count(_ == term)
        if (tf == 0) None
        else {
          val df = dfm(term)
          val idf = math.log((nDocs - df + 0.5) / (df + 0.5))
          val w = (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
          Some(math.floor(idf * w * 1e6 + 0.5).toLong)
        }
      }
      if (micro.isEmpty) None else Some(micro.sum.toDouble / 1e6)
    }
    var pairs = 0
    for ((qid, qtext) <- graft.operators.TextOps.Bm25Queries;
         (id, _) <- docs) {
      ref(qtext, id) match {
        case Some(exp) =>
          assert(out.get((qid, id)).contains(exp),
            s"q$qid doc$id: expected $exp got ${out.get((qid, id))}")
          pairs += 1
        case None =>
          assert(!out.contains((qid, id)), s"q$qid doc$id: spurious hit")
      }
    }
    assert(out.size === pairs)
  }

  test("q_bm25_ln bracket contains the precise ln score on every row") {
    val docs = Seq(
      1L -> "spark join join window fast",
      2L -> "window window window",
      3L -> "hash scan merge fast fast scan",
      4L -> "customer order data stream data",
      5L -> "quick brown fox jumps",
      6L -> "spark spark spark join window hash")
    val dir = stage(docs)
    val rows = SparkEntry.queries("q_bm25_ln")(spark, dir).collect()
    assert(rows.nonEmpty)
    // every emitted row must carry a passing verdict, a strict bracket,
    // and rn within the cut
    rows.foreach { r =>
      assert(r.getAs[Boolean]("ln_ok"), r.toString)
      assert(r.getAs[Double]("lo") < r.getAs[Double]("hi"), r.toString)
      assert(r.getAs[Int]("rn") <= 10)
    }
    // and the bracket really brackets the PRECISE ln score computed by
    // the library ranking (same pairs domain on this small corpus)
    val precise = graft.operators.TextOps.bm25LnRanked(spark, dir)
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    rows.foreach { r =>
      val k = (r.getInt(0), r.getLong(1))
      val s = precise(k)
      assert(s >= r.getAs[Double]("lo") - 1e-6 &&
        s <= r.getAs[Double]("hi") + 1e-6, s"$k: $s outside bracket")
    }
  }

  test("rational vs ln idf genuinely diverge on multi-term ranking") {
    // constructed so EVERY doc has dl = 8 = avgdl (tf weight exactly
    // 1.0, scores are pure idf sums): the rare term r has df=1; the 7
    // common terms c1..c7 each have df=5 of n=10, i.e. rational idf
    // 5.5/5.5 = 1.0 but ln idf exactly 0. Doc 1 matches only r
    // (rational 6.33…, ln 1.84…); doc 2 matches all seven c's
    // (rational 7.0 — WINS; ln 0.0 — loses). Textbook behavior differs
    // from the exp-scale deviation, exactly as the q_bm25 QDef comment
    // documents.
    val common = (1 to 7).map(i => s"c$i")
    val docs = Seq(
      1L -> ("r " + (1 to 7).map(i => s"f$i").mkString(" ")),
      2L -> (common.mkString(" ") + " g1")) ++
      (3L to 6L).map(i => i -> (common.mkString(" ") + s" g$i")) ++
      (7L to 10L).map(i => i -> (1 to 8).map(j => s"z${i}_$j").mkString(" "))
    val dir = stage(docs)
    val sp = spark
    import sp.implicits._
    val qt = ("r" +: common).map(t => (1, t)).toDF("q_id", "token")
    val idx = graft.operators.TextOps.bm25Index(spark, dir)
    def top1(df: org.apache.spark.sql.DataFrame): Long =
      df.collect().map(r => (r.getLong(1), r.getDouble(2)))
        .sortBy { case (id, s) => (-s, id) }.head._1
    val rational = graft.operators.TextOps.bm25Score(qt, idx)
    val ln = graft.operators.TextOps.bm25ScoreLn(qt, idx)
    assert(top1(rational) === 2L, "rational idf: 7 commons beat the rare")
    assert(top1(ln) === 1L, "ln idf: the rare term wins")
    // and the constructed invariants really hold, micro-unit exact
    val lnScores = ln.collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toMap
    val exp1 = math.floor(math.log(9.5 / 1.5) * 1e6 + 0.5) / 1e6
    assert(lnScores(1L) === exp1)
    assert(lnScores(2L) === 0.0)
  }

  test("q_pmi: min-count gate and hand-computed lift") {
    // "x y" occurs 5 times (survives the >=5 gate), "y x" only 4
    val dir = stage(Seq(1L -> "x y x y x y x y x y"))
    val out = SparkEntry.queries("q_pmi")(spark, dir).collect()
    assert(out.map(_.getString(0)).toSeq === Seq("x y"))
    val r = out.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((5L, 5L, 5L)))
    // lift = (n_pair * n_uni²) / (n_x * n_y * n_big) = 500/225
    val exp = math.floor((5.0 * 10 * 10) / (5.0 * 5 * 9) * 1e6 + 0.5) / 1e6
    assert(r.getDouble(4) === exp)
  }

  test("streamingBm25: streamed scored pairs equal batch q_bm25 exactly") {
    val docs = Seq(
      1L -> "spark join join window fast",
      2L -> "window window window hash",
      3L -> "hash scan merge fast fast scan",
      4L -> "customer order data stream data",
      5L -> "spark spark join window hash merge")
    val dir = stage(docs)
    val qdir = java.nio.file.Files
      .createTempDirectory("graft_bm25q").toString
    val sp = spark
    import sp.implicits._
    graft.operators.TextOps.Bm25Queries.toDF("q_id", "qtext")
      .write.mode("overwrite").parquet(qdir)
    val streamed = streaming.StreamingOps.streamingBm25(spark, dir, qdir)
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    // 5 docs < the batch top-10 cap, so the batch output IS the full
    // scored set; the stream must equal it pair-for-pair, bit-for-bit
    val batch = SparkEntry.queries("q_bm25")(spark, dir).collect()
      .map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(streamed === batch)
  }

  test("q_bm25_incr: append-built index scores equal batch q_bm25 exactly") {
    val docs = Seq(
      1L -> "spark join join window fast",
      2L -> "window window window",
      3L -> "hash scan merge fast fast scan",
      4L -> "customer order data stream data",
      5L -> "spark spark spark join window hash")
    val dir = stage(docs)
    def scored(name: String) = SparkEntry.queries(name)(spark, dir)
      .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    // the incremental build appends two parity-split batches; every
    // (query, doc, score) triple must match the from-scratch index
    // bit-for-bit — df-at-probe-time and the stats fold lose nothing
    assert(scored("q_bm25_incr") === scored("q_bm25"))
  }

  test("streamingBm25Ingest: stream-built index answers like batch q_bm25") {
    val docs = Seq(
      1L -> "spark join join window fast",
      2L -> "window window window hash",
      3L -> "hash scan merge fast fast scan",
      4L -> "customer order data stream data")
    val dir = stage(docs)
    val pid = ProcessHandle.current().pid()
    val table = s"bm25_ingest_spec_p$pid"
    val ledger = table + "_ledger"
    Seq(table, s"${table}_docs", ledger)
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      streaming.StreamingOps.streamingBm25Ingest(spark, dir, table)
      val sp = spark
      import sp.implicits._
      val qt = graft.operators.TextOps.Bm25Queries.toDF("q_id", "qtext")
        .select($"q_id", org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.split($"qtext", " ")).as("token"))
      def scored() = graft.operators.TextOps
        .bm25ScoreIncr(qt, spark.table(table),
          graft.operators.TextOps.liveBm25(spark, table, "")._2)
        .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2)))
        .toMap
      val batch = SparkEntry.queries("q_bm25")(spark, dir).collect()
        .map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2))).toMap
      assert(scored() === batch)
      // IDEMPOTENT RERUN: with the stable checkpoint (r12) a second
      // invocation over unchanged data sees no new files (the
      // checkpoint's file log remembers them) — nothing re-appends,
      // scores stay bit-identical. The ledger still guards genuine
      // at-least-once REDELIVERY within a run.
      streaming.StreamingOps.streamingBm25Ingest(spark, dir, table)
      assert(scored() === batch, "re-run over unchanged data corrupted the index")
      // NEW DATA (the ADVICE r11 silent-loss case): documents appended
      // after the first invocation must be INGESTED by the next one —
      // the pre-r12 per-invocation temp checkpoint restarted batch ids
      // at 0, so the ledger classified every later invocation as a
      // replay and dropped the new docs. Reference = a from-scratch
      // index over the grown corpus.
      val more = Seq(5L -> "window join stream spark spark",
        6L -> "data data order scan")
      more.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("append").parquet(s"$dir/documents.parquet")
      streaming.StreamingOps.streamingBm25Ingest(spark, dir, table)
      val refTable = table + "_fullref"
      spark.sql(s"DROP TABLE IF EXISTS $refTable")
      try {
        graft.operators.TextOps.writeBm25Index(
          spark.read.parquet(s"$dir/documents.parquet"), refTable)
        val full = graft.operators.TextOps
          .bm25Score(qt, spark.table(refTable))
          .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2)))
          .toMap
        assert(scored() === full, "new documents were not ingested")
        assert(scored() !== batch, "new docs should have changed scores")
      } finally spark.sql(s"DROP TABLE IF EXISTS $refTable")
    } finally {
      Seq(table, s"${table}_docs", ledger)
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      val ck = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase + "_ck")
      val fs = ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(ck, true)
    }
  }

  test("property: q_skyline equals the brute-force dominance filter") {
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    val docGen = for {
      n <- Gen.chooseNum(1, 12)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    val corpusGen = Gen.chooseNum(5, 40).flatMap(k =>
      Gen.listOfN(k, docGen).map(_.zipWithIndex.map {
        case (t, i) => (i.toLong, t)
      }))
    // fixed seeds (SchemaMapperSpec's rule): a failing corpus must
    // reproduce on re-run; unseeded .sample would draw 5 fresh ones
    val corpora = (0 until 5).map(i => corpusGen.pureApply(
      Gen.Parameters.default, org.scalacheck.rng.Seed(0x5c11e5eedL + i)))
    corpora.foreach { docs =>
      val dir = stage(docs)
      val got = SparkEntry.queries("q_skyline")(spark, dir).collect()
        .map(_.getLong(0)).toSet
      val dims = docs.map { case (id, t) =>
        id -> ((t.length.toLong,
          t.trim.split("\\s+").distinct.length.toLong))
      }
      val exp = dims.filter { case (_, (a, b)) =>
        !dims.exists { case (_, (a2, b2)) =>
          a2 >= a && b2 >= b && (a2 > a || b2 > b)
        }
      }.map(_._1).toSet
      assert(got === exp, s"corpus=${docs.take(10)}…")
    }
  }
}
