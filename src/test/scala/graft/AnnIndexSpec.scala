package graft

import graft.operators.{Ann, AnnIndex, BqIndex, IvfIndex, Ivf, PqIndex, SqIndex}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The stored embedding ANN band index + IVF quantizer (VERDICT r11
  * #1/#2) — the Bm25IndexSpec twin for the vector side: band postings
  * bucketed on band_key and payload bucketed on vec_id mean a retrieval
  * probe joins stored buckets with NO Exchange on the corpus side, and
  * the stored probes are bit-identical to the inline recompute forms
  * they replaced.
  */
class AnnIndexSpec extends AnyFunSuite with SparkSuite {

  private val table = "ann_idx_spec"
  private def emb = Tables(spark, sf, "embeddings")

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case other => other
  }
  private def shuffles(side: SparkPlan) =
    side.collect { case e: ShuffleExchangeExec => e }.size

  test("stored band-postings probe: zero Exchange under forced SMJ") {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_vec")
    // conf-isolated session (suites plan in parallel); shares the catalog
    val s = spark.newSession()
    try {
      AnnIndex.write(emb, table)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the un-hinted large-batch serving shape: query band keys vs the
      // full postings, both read from the SAME bucketed table — under
      // forced sort-merge NEITHER side may shuffle (both are bucketed
      // scans on the join key)
      val bands = s.table(table)
      val qb = bands.filter(col("vec_id") < 10)
        .select(col("band_key").as("q_band_key"),
          col("vec_id").as("q_id"))
      val cand = bands.join(qb,
        col("band_key") === col("q_band_key") &&
          col("vec_id") =!= col("q_id"))
      val root = unwrap(cand.queryExecution.executedPlan)
      val smj = root.collect { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, root.toString)
      assert(shuffles(smj.head.left) === 0, smj.head.left.toString)
      assert(shuffles(smj.head.right) === 0, smj.head.right.toString)
      assert(root.toString.contains("SelectedBucketsCount"), root.toString)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_vec")
    }
  }

  test("stored payload fetch: vec-side bucketed join has zero Exchange") {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_vec")
    val s = spark.newSession()
    try {
      AnnIndex.write(emb, table)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // candidate rescoring shape: an id list (shuffles itself) joined
      // to the bucketed payload table — the corpus side must not move
      val sp = s
      import sp.implicits._
      val cand = Seq(0L, 3L, 7L).toDF("vec_id")
      val out = s.table(table + "_vec").join(cand, "vec_id")
      val root = unwrap(out.queryExecution.executedPlan)
      val smj = root.collect { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, root.toString)
      val j = smj.head
      val (vecSide, candSide) =
        if (j.left.toString.contains(s"${table}_vec"))
          (j.left, j.right) else (j.right, j.left)
      assert(vecSide.toString.contains(s"${table}_vec"), root.toString)
      assert(shuffles(vecSide) === 0, vecSide.toString)
      assert(shuffles(candSide) === 1, candSide.toString)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_vec")
    }
  }

  test("stored probe is bit-identical to the inline Ann.topK") {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"DROP TABLE IF EXISTS ${table}_vec")
    try {
      AnnIndex.write(emb, table)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => ((r.getAs[Long]("q_id"), r.getAs[Long]("vec_id")),
          r.getAs[Double]("sim"))).toMap
      val stored = rows(AnnIndex.topK(spark, table, _ < 10, k = 3))
      val inline = rows(Ann.topK(emb, _ < 10, k = 3,
        nBands = AnnIndex.NBands, bits = AnnIndex.Bits))
      assert(stored === inline)
      assert(stored.nonEmpty)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_vec")
    }
  }

  test("stored IVF probe: zero corpus Exchange; equals inline kmeans") {
    val t = "ivf_idx_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_cent")
    val s = spark.newSession()
    try {
      IvfIndex.write(emb, t)
      // equivalence with the pre-r12 inline retrain (one shared
      // training definition — kmeansCentroids — so this should be
      // bit-exact, including cell ids)
      val e = Ann.prep(emb).persist()
      val inlineCells = Ivf.kmeansCells(e, IvfIndex.K, CosSim64,
        IvfIndex.Iters)
        .select("vec_id", "cell").collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
      val storedCells = spark.table(t).select("vec_id", "cell").collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
      e.unpersist()
      assert(storedCells === inlineCells)
      // probe plan: the cells side must be a bucketed scan, no Exchange
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val cells = s.table(t)
      val q = cells.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("cell").as("q_cell"))
      val joined = cells.join(q, col("cell") === col("q_cell") &&
        col("vec_id") =!= col("q_id"))
      val root = unwrap(joined.queryExecution.executedPlan)
      val smj = root.collect { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, root.toString)
      assert(shuffles(smj.head.left) === 0, smj.head.left.toString)
      assert(shuffles(smj.head.right) === 0, smj.head.right.toString)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_cent")
    }
  }

  // the 64-wide corpus dim without reaching into CosSim's privacy
  private val CosSim64 = 64

  test("streamingAnn: streamed scored candidates equal the batch probe") {
    // external queries in their own id namespace: copies of corpus
    // vectors (plus one zero vector for the sentinel path), staged as a
    // parquet dir for the file-stream source
    val qdir = java.nio.file.Files.createTempDirectory("graft_annq")
      .toString
    val sp = spark
    import sp.implicits._
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 5).collect()
      .map(r => (r.getLong(0) + 10000L,
        r.getSeq[Float](1)))
    val staged = corpus.toSeq :+ ((20000L, Seq.empty[Float]))
    staged.toDF("q_id", "embedding")
      .write.mode("overwrite").parquet(qdir)
    val out = streaming.StreamingOps.streamingAnn(spark, sf, qdir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    // batch twin: the SAME shared probe over a static read
    val table = graft.operators.AnnIndex.annIndex(spark, sf)
    val batch = graft.operators.AnnIndex.scoreExternal(
      spark.read.parquet(qdir), spark, table)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(out === batch)
    assert(out.nonEmpty)
    // semantic anchor: a query that IS corpus vector k must surface
    // (q, k) at sentinel-aware self-similarity 1.0 (band keys collide
    // on every band for identical vectors)
    corpus.foreach { case (qid, v) =>
      val self = (qid, qid - 10000L)
      if (v.exists(_ != 0f)) assert(out.get(self).contains(1.0), self)
    }
  }

  test("a failed rebuild never pins a cfg describing unwritten data") {
    // ADVICE r13: write() used to reset + re-pin `_cfg` BEFORE
    // overwriting the data tables, so a crash mid-rebuild left a
    // new-parameter cfg over old-parameter stored bands — and
    // scoreExternal, which trusts the stored cfg, banded external
    // queries with the wrong config and silently returned garbage.
    // The pin now lands strictly AFTER both data tables: every
    // failure state is cfg-absent (probes fall back to explicit
    // caller parameters), never cfg-describing-unwritten-data.
    val t = "ann_cfg_order_spec"
    Seq(t, s"${t}_vec", s"${t}_cfg")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    try {
      AnnIndex.write(emb, t)
      val pinned = spark.table(s"${t}_cfg").collect()(0)
      assert(pinned.getAs[Int]("nbands") === AnnIndex.NBands)
      // rebuild with DIFFERENT banding over a corpus that fails width
      // enforcement mid-write (one row's embedding is truncated, so
      // canonChecked throws inside the band-table job)
      val bad = emb.select(col("vec_id"),
        when(col("vec_id") === 5, expr("slice(embedding, 1, 10)"))
          .otherwise(col("embedding")).as("embedding"))
      intercept[Exception] {
        AnnIndex.write(bad, t, nBands = 4, bits = 1)
      }
      assert(!spark.catalog.tableExists(s"${t}_cfg"),
        "failed rebuild left a cfg pin over data it never wrote")
      // a successful rebuild re-pins a cfg that matches its data
      AnnIndex.write(emb, t, nBands = 4, bits = 1)
      val repinned = spark.table(s"${t}_cfg").collect()(0)
      assert(repinned.getAs[Int]("nbands") === 4)
      assert(repinned.getAs[Int]("bits") === 1)
      assert(AnnIndex.topK(spark, t, _ < 5, k = 3).count() > 0)
    } finally Seq(t, s"${t}_vec", s"${t}_cfg")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    // the BQ and SQ `dim` pins follow the same order: a rebuild at a
    // new width whose width-checked scan fails leaves no pin behind,
    // so the family still takes an append at its old width
    type Write = (org.apache.spark.sql.DataFrame, String, Int) => Unit
    Seq[(String, Write, Write)](
      ("bq", BqIndex.write(_, _, _), BqIndex.append(_, _, _)),
      ("sq", SqIndex.write(_, _, _), SqIndex.append(_, _, _))).foreach {
      case (kind, write, append) =>
        val tk = s"${t}_$kind"
        Seq(tk, s"${tk}_cfg")
          .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
        try {
          write(emb, tk, 64)
          intercept[Exception] { write(emb, tk, 32) }
          assert(!spark.catalog.tableExists(s"${tk}_cfg"),
            s"$kind: failed rebuild left a cfg pin over data it never " +
              "wrote")
          append(emb, tk, 64)
          assert(spark.table(s"${tk}_cfg").collect()(0)
            .getAs[Int]("dim") === 64, kind)
          assert(spark.table(tk).count() === emb.count(), kind)
        } finally Seq(tk, s"${tk}_cfg")
          .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    }
  }

  test("cfg with a missing key fails with the descriptive mismatch error") {
    // ADVICE r13: a stored cfg lacking a requested key (older pin
    // layout / different family's row) used to throw getAs's opaque
    // field-not-found instead of the fixed-at-build-time message
    val t = "ann_cfg_missing_key_spec"
    spark.sql(s"DROP TABLE IF EXISTS ${t}_cfg")
    try {
      graft.operators.TextOps.ensureIndexConfig(spark, t,
        Seq("dim" -> 64))
      val e = intercept[IllegalArgumentException] {
        graft.operators.TextOps.ensureIndexConfig(spark, t,
          Seq("dim" -> 64, "nbands" -> 8))
      }
      assert(e.getMessage.contains("no 'nbands'"), e.getMessage)
      assert(e.getMessage.contains("rebuild to change it"), e.getMessage)
    } finally spark.sql(s"DROP TABLE IF EXISTS ${t}_cfg")
  }

  test("append-built ANN index equals a from-scratch build (r12)") {
    val t2 = table + "_app"
    Seq(table, s"${table}_vec", t2, s"${t2}_vec")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      AnnIndex.write(emb, table)
      // grown by two parity-split appends — band/payload rows are
      // doc-local, so append-only maintenance must lose/alter nothing
      AnnIndex.append(emb.filter(pmod(col("vec_id"), lit(2)) === 0), t2)
      AnnIndex.append(emb.filter(pmod(col("vec_id"), lit(2)) === 1), t2)
      def bandRows(t: String) = spark.table(t)
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      assert(bandRows(t2) === bandRows(table))
      assert(spark.table(s"${t2}_vec").count() ===
        spark.table(s"${table}_vec").count())
      def probe(t: String) = AnnIndex.topK(spark, t, _ < 10, k = 3)
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          r.getDouble(2))).toMap
      assert(probe(t2) === probe(table))
    } finally Seq(table, s"${table}_vec", t2, s"${t2}_vec")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("IVF append assigns with the stored quantizer, never retrains") {
    val t = "ivf_app_spec"
    Seq(t, s"${t}_cent").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    try {
      // append without a stored quantizer must refuse loudly
      val e = intercept[IllegalArgumentException] {
        IvfIndex.append(emb.limit(1), t)
      }
      assert(e.getMessage.contains("no stored quantizer"))
      // build on the id-dense front half (kmeans seeds need vec_id
      // 0..k dense), append the tail
      IvfIndex.write(emb.filter(col("vec_id") < 50), t)
      IvfIndex.append(emb.filter(col("vec_id") >= 50), t)
      // appended rows must equal assignCells under the STORED centroids
      val cents = spark.table(s"${t}_cent").collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
      val expected = Ivf.assignCells(
        Ann.prep(emb.filter(col("vec_id") >= 50)), cents)
        .select("vec_id", "cell").collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
      val stored = spark.table(t)
        .filter(col("vec_id") >= 50)
        .select("vec_id", "cell").collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
      assert(stored === expected)
      assert(stored.nonEmpty)
    } finally Seq(t, s"${t}_cent")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("PQ append encodes with the stored codebook, never retrains") {
    val t = "pq_app_spec"
    Seq(t, s"${t}_cb").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    try {
      // append without a stored codebook must refuse loudly
      val e = intercept[IllegalArgumentException] {
        PqIndex.append(emb.limit(1), t)
      }
      assert(e.getMessage.contains("no stored codebook"))
      // build on the id-dense front half (codebook seeds need vec_id
      // 0..Ks dense), append the tail
      PqIndex.write(emb.filter(col("vec_id") < 250), t)
      val cbBefore = spark.table(s"${t}_cb").collect()
        .map(_.toString).sorted.toSeq
      PqIndex.append(emb.filter(col("vec_id") >= 250), t)
      // append must not have touched the codebook
      val cbAfter = spark.table(s"${t}_cb").collect()
        .map(_.toString).sorted.toSeq
      assert(cbAfter === cbBefore)
      // shape invariants over the grown table: one row per vector,
      // M codes each, every code id inside the codebook
      val all = spark.table(t).collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](r.fieldIndex("codes")).toSeq).toMap
      assert(all.size.toLong === emb.count())
      all.values.foreach { cs =>
        assert(cs.length === PqIndex.M)
        assert(cs.forall(c => c >= 0 && c < PqIndex.Ks), cs.toString)
      }
      // appended rows must equal a fresh encode under the STORED
      // codebook — the never-retrains contract
      val cb = spark.table(s"${t}_cb").select(col("sub"), col("cid"),
        col("c"))
      val expected = PqIndex.encode(emb.filter(col("vec_id") >= 250), cb)
        .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Int](r.fieldIndex("codes")).toSeq).toMap
      assert(expected.nonEmpty)
      expected.foreach { case (id, cs) => assert(all(id) === cs, s"vec $id") }
    } finally Seq(t, s"${t}_cb")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("streamingAnnIngest: stream-built index probes like batch-built") {
    val pid = ProcessHandle.current().pid()
    val t = s"ann_ingest_spec_p$pid"
    val tb = s"ann_ingest_batch_p$pid"
    val dir = java.nio.file.Files.createTempDirectory("graft_anning")
      .toString
    val sp = spark
    import sp.implicits._
    def stageHalf(m: Int): Unit =
      emb.filter(pmod(col("vec_id"), lit(2)) === m)
        .select("vec_id", "embedding")
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
    Seq(t, s"${t}_vec", s"${t}_ledger", tb, s"${tb}_vec")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    try {
      stageHalf(0)
      streaming.StreamingOps.streamingAnnIngest(spark, dir, t)
      // idempotent re-run over unchanged data (stable checkpoint)
      streaming.StreamingOps.streamingAnnIngest(spark, dir, t)
      // new vectors arriving later must be ingested
      stageHalf(1)
      streaming.StreamingOps.streamingAnnIngest(spark, dir, t)
      AnnIndex.write(spark.read.parquet(s"$dir/embeddings.parquet"), tb)
      def probe(x: String) = AnnIndex.topK(spark, x, _ < 10, k = 3)
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          r.getDouble(2))).toMap
      assert(probe(t) === probe(tb))
      assert(probe(t).nonEmpty)
    } finally {
      Seq(t, s"${t}_vec", s"${t}_ledger", tb, s"${tb}_vec")
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
      val ck = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase + "_ck")
      ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(ck, true)
    }
  }

  test("streamingPqIngest: stream-grown codes equal a direct encode") {
    val pid = ProcessHandle.current().pid()
    val t = s"pq_ingest_spec_p$pid"
    val dir = java.nio.file.Files.createTempDirectory("graft_pqing")
      .toString
    def stageHalf(m: Int): Unit =
      emb.filter(pmod(col("vec_id"), lit(2)) === m)
        .select("vec_id", "embedding")
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
    Seq(t, s"${t}_cb", s"${t}_ledger")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    try {
      // ingest without a trained codebook must refuse loudly (the
      // frozen-quantizer contract — ingest never trains)
      val e = intercept[IllegalArgumentException] {
        streaming.StreamingOps.streamingPqIngest(spark, dir, t)
      }
      assert(e.getMessage.contains("no stored codebook"))
      // codebook from the (id-dense) corpus; codes arrive by stream
      graft.operators.PqIndex.trainCodebook(emb, t)
      stageHalf(0)
      streaming.StreamingOps.streamingPqIngest(spark, dir, t)
      // idempotent re-run over unchanged data (stable checkpoint)
      streaming.StreamingOps.streamingPqIngest(spark, dir, t)
      // vectors arriving later must be ingested
      stageHalf(1)
      streaming.StreamingOps.streamingPqIngest(spark, dir, t)
      def codeMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getAs[Long]("vec_id") ->
          r.getSeq[Int](r.fieldIndex("codes")).toSeq).toMap
      val cb = spark.table(s"${t}_cb").select(col("sub"), col("cid"),
        col("c"))
      val expected = codeMap(graft.operators.PqIndex.encode(
        spark.read.parquet(s"$dir/embeddings.parquet"), cb))
      val got = codeMap(spark.table(t))
      assert(got === expected)
      assert(got.size.toLong === emb.count())
    } finally {
      Seq(t, s"${t}_cb", s"${t}_ledger")
        .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
      val ck = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase + "_ck")
      ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(ck, true)
    }
  }

  test("streamingIvfIngest/streamingBqIngest: stream-grown equals batch") {
    val pid = ProcessHandle.current().pid()
    val ti = s"ivf_ingest_spec_p$pid"
    val tq = s"bq_ingest_spec_p$pid"
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfing")
      .toString
    def stageHalf(m: Int): Unit =
      emb.filter(pmod(col("vec_id"), lit(2)) === m)
        .select("vec_id", "embedding")
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
    val all = Seq(ti, s"${ti}_cent", s"${ti}_ledger", tq, s"${tq}_ledger")
    all.foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    try {
      // IVF ingest without a stored quantizer must refuse loudly
      val e = intercept[IllegalArgumentException] {
        streaming.StreamingOps.streamingIvfIngest(spark, dir, ti)
      }
      assert(e.getMessage.contains("no stored quantizer"))
      // quantizer trained on the id-dense front half; drop its cells so
      // EVERY vector arrives by stream (the stored centroids survive)
      IvfIndex.write(emb.filter(col("vec_id") < 50), ti)
      spark.sql(s"DROP TABLE $ti")
      stageHalf(0)
      streaming.StreamingOps.streamingIvfIngest(spark, dir, ti)
      streaming.StreamingOps.streamingIvfIngest(spark, dir, ti) // replay
      stageHalf(1)
      streaming.StreamingOps.streamingIvfIngest(spark, dir, ti)
      val cents = spark.table(s"${ti}_cent").collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
      val expectedCells = Ivf.assignCells(
        Ann.prep(spark.read.parquet(s"$dir/embeddings.parquet")), cents)
        .select("vec_id", "cell").collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
      val gotCells = spark.table(ti).select("vec_id", "cell").collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell")).toMap
      assert(gotCells === expectedCells)
      assert(gotCells.size.toLong === emb.count())
      // BQ: stateless signatures — stream-grown must equal a batch build
      streaming.StreamingOps.streamingBqIngest(spark, dir, tq)
      streaming.StreamingOps.streamingBqIngest(spark, dir, tq) // replay
      val tb = s"bq_ingest_batch_p$pid"
      spark.sql(s"DROP TABLE IF EXISTS $tb")
      try {
        BqIndex.write(spark.read.parquet(s"$dir/embeddings.parquet"), tb)
        def sigs(x: String) = spark.table(x)
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq)
          .toMap
        assert(sigs(tq) === sigs(tb))
        assert(sigs(tq).size.toLong === emb.count())
        // rebuild-after-drop: dropping the TABLE must reset the paired
        // ledger too — with the checkpoint gone batch ids restart at 0,
        // and a surviving ledger would silently skip every batch,
        // leaving the "rebuilt" index nonexistent (the review finding:
        // success with no data)
        spark.sql(s"DROP TABLE $tq")
        streaming.StreamingOps.streamingBqIngest(spark, dir, tq)
        assert(sigs(tq) === sigs(tb), "rebuild after drop ingested nothing")
      } finally spark.sql(s"DROP TABLE IF EXISTS $tb")
    } finally {
      all.foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
      Seq(ti, tq).foreach { t =>
        val ck = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase + "_ck")
        ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(ck, true)
      }
    }
  }

  test("IVF multi-probe: nprobe=1 equals the single-cell probe exactly") {
    val t = "ivf_mp_spec"
    Seq(t, s"${t}_cent").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    try {
      IvfIndex.write(emb, t)
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          (r.getInt(2), r.getDouble(3)))).toMap
      // cell ranking reuses the assignment cosine + tiebreak, so the
      // nearest probed cell IS the query's own cell — nprobe=1 must
      // degenerate to topK bit-for-bit
      val single = rows(IvfIndex.topK(spark, t, _ < 10, k = 3))
      val mp1 = rows(IvfIndex.topKMultiProbe(spark, t, _ < 10, k = 3,
        nprobe = 1))
      assert(mp1 === single)
      // nprobe=2 searches a superset of candidates: every returned sim
      // must be >= the single-probe sim at the same rank position
      val mp2 = IvfIndex.topKMultiProbe(spark, t, _ < 10, k = 3,
        nprobe = 2)
      val s2 = mp2.collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getDouble(3)).sorted.reverse.toSeq).toMap
      val s1 = IvfIndex.topK(spark, t, _ < 10, k = 3).collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getDouble(3)).sorted.reverse.toSeq).toMap
      s1.foreach { case (q, sims1) =>
        val sims2 = s2(q)
        sims1.zip(sims2).foreach { case (a, b) =>
          assert(b >= a, s"q=$q: multiprobe sim $b < single $a") }
      }
    } finally Seq(t, s"${t}_cent")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("filtered probe: every neighbor shares the query's label") {
    val out = SparkEntry.queries("q_annf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.nonEmpty)
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { case (q, v) =>
      assert(labels(q) === labels(v), s"cross-label pair ($q, $v)")
    }
    // and the filter runs BEFORE the cut: some query must surface a
    // same-label neighbor that the UNfiltered top-3 did not contain
    // (post-filtering the global top-k could never add neighbors)
    val unfiltered = SparkEntry.queries("q_simsearch_banded")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.exists(p => !unfiltered.contains(p)),
      "filtered results identical to post-filtered global top-k — " +
        "pre-cut filtering not exercised by this corpus")
  }

  test("SemDeDup quantizer k scales with the corpus, floor at K") {
    import graft.operators.Similarity
    // the formula: exactly IvfIndex.K at the oracle's sf0.01 scale
    // (500 vectors: ceil(500/64) = 8), so the k=8-mirroring oracle
    // stays valid; linear growth above (bounded expected cell size =
    // linear pair cost)
    assert(Similarity.sddK(500) === IvfIndex.K)
    assert(Similarity.sddK(10) === IvfIndex.K)
    assert(Similarity.sddK(2000) === 32)
    assert(Similarity.sddK(20000) === 313)
    // TRIPWIRE (the NULL-text lesson, r11): q_semdd's ORACLE mirrors a
    // k=8 training while the Spark side computes k = sddK(n) — they
    // agree exactly while sddK(n) == IvfIndex.K, i.e. while the
    // oracle-scale corpus stays ≤ SddCellSize·K vectors. Pin it so a
    // testdata regeneration turns into THIS assertion, not a mystery
    // q_semdd hash mismatch.
    val n001 = Tables(spark, "/root/testdata/sf0.01", "embeddings").count()
    assert(Similarity.sddK(n001) === IvfIndex.K,
      s"sf0.01 corpus ($n001 vectors) left the k=8 regime — q_semdd's " +
        "oracle (quantizerCtes(8)) no longer mirrors the scaled " +
        "quantizer; re-derive SddCellSize")
    // scaling engages on a real build: 4 id-shifted copies -> 2000
    // vectors, k = sddK(2000) = 32 distinct seed centroids -> strictly
    // more cells than the fixed-8 quantizer would give
    val pid = ProcessHandle.current().pid()
    val t = s"sdd_scale_spec_p$pid"
    Seq(t, s"${t}_cent").foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    try {
      val n = emb.count()
      val copies = (0 until 4).map(i =>
        emb.select((col("vec_id") + lit(i * n)).as("vec_id"),
          col("embedding")))
        .reduce(_ unionAll _)
      val total = 4 * n
      assert(Similarity.sddK(total) > IvfIndex.K)
      IvfIndex.write(copies, t, k = Similarity.sddK(total))
      val nCells = spark.table(t).select("cell").distinct().count()
      assert(nCells > IvfIndex.K, s"only $nCells cells")
      assert(spark.table(t).count() === total)
    } finally Seq(t, s"${t}_cent")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("BQ signatures: packed-word Hamming equals positional mismatch") {
    val t = "bq_sig_spec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    try {
      BqIndex.write(emb, t)
      // ground truth from the canon vectors, recomputed in plain Scala
      val vecs = Ann.prep(emb).select("vec_id", "v").collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      def bits(v: Array[Double]) = v.map(_ > 0)
      // r13: signatures are ⌈dim/64⌉ packed words — exactly ONE at
      // this corpus's dim 64, whose value must equal the old BIGINT
      val sigRows = spark.table(t).collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
      assert(sigRows.values.forall(_.size === 1), "one word at dim 64")
      val sigs = sigRows.view.mapValues(_.head).toMap
      assert(sigs.keySet === vecs.keySet)
      // packed word agrees bit-for-bit with the sign pattern
      sigs.foreach { case (id, sig) =>
        val b = bits(vecs(id))
        (0 until 64).foreach { p =>
          assert(((sig >>> p) & 1L) === (if (b(p)) 1L else 0L),
            s"vec $id bit $p")
        }
      }
      // xor+popcount Hamming = positional mismatch count (spot pairs)
      val ids = sigs.keySet.toSeq.sorted.take(8)
      for (a <- ids; b <- ids if a < b) {
        val expected = bits(vecs(a)).zip(bits(vecs(b)))
          .count { case (x, y) => x != y }
        assert(java.lang.Long.bitCount(sigs(a) ^ sigs(b)) === expected,
          s"pair ($a, $b)")
      }
      // a NULL embedding canonicalizes to the zero vector -> sig 0
      val nullIds = emb.filter(col("embedding").isNull)
        .select("vec_id").collect().map(_.getLong(0))
      nullIds.foreach(id => assert(sigs(id) === 0L, s"NULL vec $id"))
      // three-way parity over the corpus AND the edge shapes the fold
      // defines semantics for (NULL element → 0 bit, short array →
      // high bits 0, >64 elements — fold ignores them, the words form
      // carries them in word 1, so WORD 0 of the words expression must
      // equal both the single-word codegen graft_sign_pack and the
      // composable HOF fold)
      val sp = spark
      import sp.implicits._
      val edges = Seq(
        (1L, Seq[java.lang.Double](1.0, null, -2.0, 0.0)),
        (2L, Seq[java.lang.Double](0.5)),
        (3L, (1 to 70).map(i =>
          java.lang.Double.valueOf(if (i % 3 == 0) 1.0 else -1.0)))
      ).toDF("vec_id", "v")
      val cases = Ann.prep(emb).select(col("vec_id"), col("v"))
        .unionByName(edges)
      val mismatch = cases
        .select(col("vec_id"),
          expr(s"element_at(${graft.operators.BqIndex.sigExpr}, 1)")
            .as("word0"),
          expr("graft_sign_pack(v)").as("single"),
          expr(graft.operators.BqIndex.sigFoldExpr).as("fold"))
        .filter(!(col("word0") <=> col("fold")) ||
          !(col("single") <=> col("fold")))
        .count()
      assert(mismatch === 0L)
      // the 70-element edge packs to TWO words, bits 64-69 in word 1
      val wide = edges.filter(col("vec_id") === 3L)
        .select(expr(graft.operators.BqIndex.sigExpr)).collect()
        .head.getSeq[Long](0)
      assert(wide.size === 2)
      val expectedW1 = (64 until 70).foldLeft(0L)((acc, i) =>
        if ((i + 1) % 3 == 0) acc | (1L << (i - 64)) else acc)
      assert(wide(1) === expectedW1)
      // the ONE deliberate divergence: for a NULL ARRAY the fold yields
      // 0 (v appears only inside its CASE, so nothing propagates) while
      // the native expressions are null-propagating — the saner
      // contract, and unreachable from BqIndex (Ann.prep canonicalizes
      // NULL embeddings to the zero vector first)
      val nullArr = Seq((9L, null: Seq[java.lang.Double])).toDF("vec_id", "v")
        .select(expr(graft.operators.BqIndex.sigExpr).as("native"),
          expr(graft.operators.BqIndex.sigFoldExpr).as("fold"))
        .collect().head
      assert(nullArr.isNullAt(0) && nullArr.getLong(1) === 0L)
      // graft_hamming over the stored words equals the HOF twin
      val hamMismatch = spark.table(t).select(col("sig"))
        .crossJoin(spark.table(t).select(col("sig").as("q_sig"))
          .limit(4))
        .select(expr("graft_hamming(sig, q_sig)").as("native"),
          expr("aggregate(zip_with(sig, q_sig, (x, y) -> " +
            "bit_count(x ^ y)), 0, (a, b) -> a + b)").as("hof"))
        .filter(!(col("native") <=> col("hof"))).count()
      assert(hamMismatch === 0L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("append-built BQ index equals a from-scratch build (r12)") {
    val t = "bq_app_spec"; val t2 = t + "_app"
    Seq(t, t2).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    try {
      BqIndex.write(emb, t)
      // signatures are doc-local: parity-split appends must reproduce
      // the from-scratch table row for row
      BqIndex.append(emb.filter(pmod(col("vec_id"), lit(2)) === 0), t2)
      BqIndex.append(emb.filter(pmod(col("vec_id"), lit(2)) === 1), t2)
      def rows(x: String) = spark.table(x).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).sortBy(_._1)
        .toSeq
      assert(rows(t2) === rows(t))
      // and probe-for-probe through the shared payload table
      val vec = AnnIndex.annIndex(spark, sf) + "_vec"
      def probe(x: String) = BqIndex.topK(spark, x, vec, _ < 10, k = 5)
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          (r.getInt(2), r.getDouble(3)))).toMap
      assert(probe(t2) === probe(t))
      assert(probe(t).nonEmpty)
    } finally Seq(t, t2).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("SQ8: stored codes reconstruct the inline quantization exactly") {
    val t = "sq_spec"; val t2 = t + "_app"
    Seq(t, t2).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    try {
      SqIndex.write(emb, t)
      // the per-vector scale is doc-local: parity-split appends must
      // reproduce the from-scratch table row for row
      SqIndex.append(emb.filter(pmod(col("vec_id"), lit(2)) === 0), t2)
      SqIndex.append(emb.filter(pmod(col("vec_id"), lit(2)) === 1), t2)
      def rows(x: String) = spark.table(x).collect()
        .map(r => (r.getLong(0), r.getDouble(1),
          r.getSeq[Byte](2).toSeq)).sortBy(_._1).toSeq
      assert(rows(t2) === rows(t))
      // codes really are int8: tinyint element type, values in [-127,127]
      val schema = spark.table(t).schema("codes").dataType
      assert(schema.asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType === org.apache.spark.sql.types.ByteType,
        schema.toString)
      assert(rows(t).flatMap(_._3).forall(c => c >= -127 && c <= 127))
      // stored probe ≡ quantize-in-flight (the r12 inline q_sq8 form):
      // reconstruction code*sc must be bit-identical, so sims match
      val stored = SqIndex.topK(spark, t, _ < 10, k = 5).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val inline = {
        val e = emb.select(col("vec_id"),
            expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
          .withColumn("v", coalesce(col("v"),
            typedlit(Seq.fill(64)(0.0))))
          .withColumn("sc",
            expr("array_max(transform(v, x -> abs(x)))") / lit(127.0))
          .withColumn("vq", expr(
            "transform(v, x -> CASE WHEN sc = CAST(0 AS DOUBLE) " +
              "THEN CAST(0 AS DOUBLE) ELSE floor(x / sc + 0.5) * sc END)"))
          .withColumn("nrm", expr("sqrt(graft_dot(vq, vq))"))
        val q = e.select(col("vec_id").as("q_id"), col("vq").as("qv"),
          col("nrm").as("qn")).filter(col("q_id") < 10)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("sim").desc, col("vec_id").asc)
        e.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("sim", Det.rnd(
            when(col("nrm") > 0d && col("qn") > 0d,
              expr("graft_dot(vq, qv)") / (col("nrm") * col("qn")))
              .otherwise(lit(null)), 6))
          .withColumn("sim", coalesce(col("sim"), lit(-1.0)))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select("q_id", "vec_id", "sim").collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      }
      assert(stored === inline)
      assert(stored.nonEmpty)
    } finally Seq(t, t2).foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("streamingSqIngest: stream-grown codes equal a batch build") {
    val pid = ProcessHandle.current().pid()
    val t = s"sq_ingest_spec_p$pid"
    val dir = java.nio.file.Files.createTempDirectory("graft_sqing")
      .toString
    def stageHalf(m: Int): Unit =
      emb.filter(pmod(col("vec_id"), lit(2)) === m)
        .select("vec_id", "embedding")
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
    val all = Seq(t, s"${t}_ledger")
    all.foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    try {
      stageHalf(0)
      streaming.StreamingOps.streamingSqIngest(spark, dir, t)
      streaming.StreamingOps.streamingSqIngest(spark, dir, t) // replay
      stageHalf(1)
      streaming.StreamingOps.streamingSqIngest(spark, dir, t)
      val tb = s"sq_ingest_batch_p$pid"
      spark.sql(s"DROP TABLE IF EXISTS $tb")
      try {
        SqIndex.write(spark.read.parquet(s"$dir/embeddings.parquet"), tb)
        def rows(x: String) = spark.table(x).collect()
          .map(r => (r.getLong(0), r.getDouble(1),
            r.getSeq[Byte](2).toSeq)).sortBy(_._1).toSeq
        assert(rows(t) === rows(tb))
        assert(rows(t).size.toLong === emb.count())
      } finally spark.sql(s"DROP TABLE IF EXISTS $tb")
    } finally {
      all.foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
      val ck = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase + "_ck")
      ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(ck, true)
    }
  }

  test("q_simsearch_banded answers from a second session in the same JVM") {
    assert(SparkEntry.queries("q_simsearch_banded")(spark, sf).count() > 0)
    val s2 = spark.newSession()
    // a new session starts from the production lock wait; give it the
    // test sessions' wait (SparkSuite) so a parallel lane's long hold
    // of the shared build lock is waited out, not refused
    s2.conf.set("graft.buildLock.timeoutMs",
      spark.conf.get("graft.buildLock.timeoutMs"))
    assert(SparkEntry.queries("q_simsearch_banded")(s2, sf).count() > 0)
    assert(SparkEntry.queries("q_simsearch_ivf")(s2, sf).count() > 0)
  }
}
