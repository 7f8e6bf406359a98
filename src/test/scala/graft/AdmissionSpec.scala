package graft

import graft.operators.Quality.Rule._
import graft.operators.TextOps.Retention
import graft.streaming.{IndexGroup, StreamingOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** THE ADMISSION GATE ON THE INGEST PATH — declared Quality rules run
  * inside the unified document ingest: rejected rows land in
  * `<base>_quarantine` NAMED with the rules they failed, per-rule
  * counts land in `<base>_admission`, admitted rows flow to the
  * index — and the audit trail is IDEMPOTENT under ledger replay
  * (per-batch dynamic partition overwrite), converging exactly like
  * the index members do.
  */
class AdmissionSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def rules = Seq(
    OneOf("lang", Seq("en", "fr", "de")),
    InRange("n_chars", 60.0, 500.0))

  private def famTables(base: String): Seq[String] = Seq(
    s"${base}_band", s"${base}_band_del", s"${base}_bm25",
    s"${base}_bm25_del", s"${base}_bm25_docs", s"${base}_hashes",
    s"${base}_ledger",
    s"${base}_quarantine", s"${base}_admission")

  private def rmCk(base: String): Unit = {
    val ck = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      base.toLowerCase + "_ck")
    ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(ck, true)
    ()
  }

  test("ingest admission: rejects are quarantined with reasons, " +
      "counted per rule, and NEVER reach the index; replay after a " +
      "member loss re-derives the audit trail without duplicating it") {
    val base = s"adm_doc_p$pid"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_adm").toString
    drop(famTables(base): _*)
    rmCk(base)
    try {
      val sp = spark
      import sp.implicits._
      val docs = Tables(spark, sf, "documents")
        .filter(col("doc_id") < 40)
      docs.write.mode("append").parquet(s"$dir/documents.parquet")
      StreamingOps.streamingDocumentIngest(spark, dir, base,
        admission = rules)

      // ground truth straight from the source frame
      val badLang = docs.where(col("lang").isNotNull &&
        !col("lang").isin("en", "fr", "de"))
        .select("doc_id").as[Long].collect().toSet
      val badLen = docs.where(col("n_chars").isNotNull &&
        !(col("n_chars") >= 60 && col("n_chars") <= 500))
        .select("doc_id").as[Long].collect().toSet
      assert(badLang.nonEmpty, "fixture must exercise the lang rule")

      val quarantine = spark.table(s"${base}_quarantine")
      val qRows = quarantine
        .select("doc_id", "violations").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(qRows.keySet === (badLang ++ badLen))
      badLang.foreach(id =>
        assert(qRows(id).contains("one_of:lang"), s"doc $id"))
      badLen.foreach(id =>
        assert(qRows(id).contains("in_range:n_chars"), s"doc $id"))

      // per-rule metrics reconcile with the quarantined rows
      val m = spark.table(s"${base}_admission")
        .groupBy("rule").agg(sum("violations").as("v"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(m("one_of:lang") === badLang.size.toLong)
      assert(m("in_range:n_chars") === badLen.size.toLong)

      // quarantined ids never reached either index member
      val indexed = spark.table(s"${base}_bm25")
        .select("doc_id").distinct().as[Long].collect().toSet
      assert(indexed.intersect(qRows.keySet) === Set.empty)
      assert(indexed.nonEmpty)

      // REPLAY: lose a member -> the next ingest resets and replays
      // every batch; the audit slices overwrite their own partitions
      // instead of duplicating (same ledger ids, deterministic rules)
      val beforeQ = quarantine.collect().map(_.toString).sorted
      val beforeA = spark.table(s"${base}_admission")
        .collect().map(_.toString).sorted
      spark.sql(s"DROP TABLE ${base}_band")
      StreamingOps.streamingDocumentIngest(spark, dir, base,
        admission = rules)
      val afterQ = spark.table(s"${base}_quarantine")
        .collect().map(_.toString).sorted
      val afterA = spark.table(s"${base}_admission")
        .collect().map(_.toString).sorted
      assert(afterQ.toSeq === beforeQ.toSeq)
      assert(afterA.toSeq === beforeA.toSeq)
    } finally {
      drop(famTables(base): _*)
      rmCk(base)
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val paths =
        try {
          import scala.jdk.CollectionConverters._
          walk.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.toList
        } finally walk.close()
      paths.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("audit retention: pruneAdmissionAudit keeps the newest batch " +
      "partitions, never touches the family, never triggers a reset") {
    val base = s"admp_doc_p$pid"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_admp").toString
    drop(famTables(base): _*)
    rmCk(base)
    try {
      val sp = spark
      import sp.implicits._
      val docs = Tables(spark, sf, "documents")
      docs.filter(col("doc_id") < 20)
        .write.mode("append").parquet(s"$dir/documents.parquet")
      StreamingOps.streamingDocumentIngest(spark, dir, base,
        admission = rules)
      // a second batch arrives later
      docs.filter(col("doc_id") >= 20 && col("doc_id") < 40)
        .write.mode("append").parquet(s"$dir/documents.parquet")
      StreamingOps.streamingDocumentIngest(spark, dir, base,
        admission = rules)
      val batches = spark.table(s"${base}_quarantine")
        .select("_batch").distinct().as[Long].collect().sorted
      assert(batches.length === 2, batches.toSeq)
      val indexedBefore = spark.table(s"${base}_bm25").count()
      val dropped = StreamingOps.pruneAdmissionAudit(spark, base,
        Retention.KeepNewest(1))
      assert(dropped.nonEmpty)
      assert(dropped.forall(_.contains("_batch=")))
      val after = spark.table(s"${base}_quarantine")
        .select("_batch").distinct().as[Long].collect()
      assert(after.toSeq === Seq(batches.max)) // newest kept
      // the family is untouched, and the NEXT ingest does not reset
      assert(spark.table(s"${base}_bm25").count() === indexedBefore)
      StreamingOps.streamingDocumentIngest(spark, dir, base,
        admission = rules) // no new files -> no new batches, no reset
      assert(spark.table(s"${base}_bm25").count() === indexedBefore)
    } finally {
      drop(famTables(base): _*)
      rmCk(base)
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val paths =
        try {
          import scala.jdk.CollectionConverters._
          walk.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.toList
        } finally walk.close()
      paths.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("admissionDrift flags a rule whose rate breaks out of its own " +
      "trailing baseline — and only that rule, only past minPrior") {
    val base = s"admd_doc_p$pid"
    val t = s"${base}_admission"
    drop(t)
    try {
      val sp = spark
      import sp.implicits._
      // crafted history: r_flat holds 10% forever; r_drift holds ~2%
      // then jumps to 40% in the newest batch; r_new never fired, then
      // fires at 5% (breaks the k*minStd floor). First batches have no
      // baseline and must never flag.
      val rows =
        (0L to 5L).map(b => ("r_flat", 100L, 10L, b)) ++
        Seq(("r_drift", 100L, 2L, 0L), ("r_drift", 100L, 3L, 1L),
          ("r_drift", 100L, 2L, 2L), ("r_drift", 100L, 3L, 3L),
          ("r_drift", 100L, 2L, 4L), ("r_drift", 100L, 40L, 5L)) ++
        (0L to 4L).map(b => ("r_new", 100L, 0L, b)) ++
        Seq(("r_new", 100L, 5L, 5L))
      rows.toDF("rule", "total", "violations", "_batch")
        .write.partitionBy("_batch").saveAsTable(t)
      val d = StreamingOps.admissionDrift(spark, base)
      val flagged = d.where(col("drifted"))
        .select("rule", "batch").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(flagged === Set(("r_drift", 5L), ("r_new", 5L)))
      // newest-first ordering and the full history rides for plotting
      val first = d.select("batch").head.getLong(0)
      assert(first === 5L)
      assert(d.count() === rows.size.toLong)
    } finally drop(t)
  }

  test("dueDocuments surfaces the drift advisory on the group cadence " +
      "check — and stays silent on a flat history") {
    val base = s"admq_doc_p$pid"
    val t = s"${base}_admission"
    val fam = Seq(s"${base}_band", s"${base}_band_del",
      s"${base}_bm25", s"${base}_bm25_del", s"${base}_bm25_docs", t)
    drop(fam: _*)
    try {
      val sp = spark
      import sp.implicits._
      // a real (tiny, healthy) member pair so describe() works
      val docs = Seq(1L -> "alpha beta gamma delta common words here")
        .toDF("doc_id", "text")
      graft.operators.TextOps.appendBandIndex(docs, s"${base}_band")
      graft.operators.TextOps.appendBm25Postings(docs, s"${base}_bm25")
      // flat history: no advisory
      ((0L to 4L).map(b => ("r_flat", 100L, 10L, b)))
        .toDF("rule", "total", "violations", "_batch")
        .write.partitionBy("_batch").saveAsTable(t)
      assert(!StreamingOps.due(spark, IndexGroup.documents(base))
        .exists(_.startsWith("admission-drift")))
      // breakout in the newest batch: advisory names the rule
      Seq(("r_flat", 100L, 60L, 5L))
        .toDF("rule", "total", "violations", "_batch")
        .write.mode("append").insertInto(t)
      spark.catalog.refreshTable(t)
      val due = StreamingOps.due(spark, IndexGroup.documents(base))
      assert(due.exists(v => v.startsWith("admission-drift:r_flat")),
        due.mkString("; "))
    } finally drop(fam: _*)
  }

  test("the CDC upsert stream takes the same gate: a bad rewrite is " +
      "quarantined under the stream-scoped sink and never lands; the " +
      "good rewrite in the same batch applies") {
    val base = s"admu_doc_p$pid"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_admu").toString
    val upsDir = java.nio.file.Files
      .createTempDirectory("graft_admu_ups").toString
    val extra = Seq(s"${base}_ups_ledger", s"${base}_ups_quarantine",
      s"${base}_ups_admission")
    drop((famTables(base) ++ extra): _*)
    rmCk(base); rmCk(s"${base}_ups")
    try {
      val sp = spark
      import sp.implicits._
      // seed the group via plain ingest (no gate needed here)
      Tables(spark, sf, "documents")
        .filter(col("doc_id").isin(0L, 1L, 2L))
        .write.mode("append").parquet(s"$dir/documents.parquet")
      StreamingOps.streamingDocumentIngest(spark, dir, base)
      val ids = spark.table(s"${base}_bm25")
        .select("doc_id").distinct().as[Long].collect().toSet
      assert(ids.nonEmpty)
      val target = ids.min
      // one batch, two rewrites: a good one and a too-short one
      Seq(
        (target, "freshly rewritten body with plentiful english " +
          "words and the required length to pass the gate easily " +
          "one two three four five six seven eight nine ten", "en",
          "cdc", 130L),
        (target + 1000L, "tiny", "en", "cdc", 4L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(upsDir)
      StreamingOps.streamingUpserts(spark, upsDir, IndexGroup.documents(base),
        admission = Seq(InRange("n_chars", 60.0, 500.0)))
      // the bad rewrite is in the STREAM-SCOPED quarantine...
      val q = spark.table(s"${base}_ups_quarantine")
        .select("doc_id", "violations").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(q.keySet === Set(target + 1000L))
      assert(q(target + 1000L).contains("in_range:n_chars"))
      // ...and never reached the index
      val after = spark.table(s"${base}_bm25")
        .select("doc_id").distinct().as[Long].collect().toSet
      assert(!after.contains(target + 1000L))
      // while the good rewrite APPLIED (its fresh token serves)
      val (p, st) = graft.operators.TextOps.liveBm25(spark,
        s"${base}_bm25", "")
      val hits = graft.operators.TextOps.bm25ScoreIncr(
        Seq((1, "plentiful")).toDF("q_id", "token"), p, st)
        .select("doc_id").as[Long].collect().toSet
      assert(hits === Set(target))
    } finally {
      drop((famTables(base) ++ extra): _*)
      rmCk(base); rmCk(s"${base}_ups")
      Seq(dir, upsDir).foreach { d =>
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
        val paths =
          try {
            import scala.jdk.CollectionConverters._
            walk.sorted(java.util.Comparator.reverseOrder())
              .iterator().asScala.toList
          } finally walk.close()
        paths.foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }

  test("the vector gate: NaN and zero-norm embeddings quarantine " +
      "instead of poisoning every rung of the unified vector ingest") {
    val base = s"admvec_p$pid"
    val fams = Seq(s"${base}_ann", s"${base}_ann_vec",
      s"${base}_ann_cfg", s"${base}_bq", s"${base}_bq_cfg",
      s"${base}_sq", s"${base}_sq_cfg", s"${base}_pq", s"${base}_pq_cb",
      s"${base}_ivf", s"${base}_ivf_cent", s"${base}_ledger",
      s"${base}_quarantine", s"${base}_admission")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_admvec").toString
    drop(fams: _*)
    rmCk(base)
    try {
      val sp = spark
      import sp.implicits._
      val emb = Tables(spark, sf, "embeddings")
      graft.operators.PqIndex.trainCodebook(emb, s"${base}_pq")
      graft.operators.IvfIndex.write(
        emb.filter(col("vec_id") < 30), s"${base}_ivf")
      spark.sql(s"DROP TABLE ${base}_ivf") // keep only the quantizer
      val dim = emb.select(size(col("embedding"))).head.getInt(0)
      // poisoned rows: one NaN lane, one zero vector
      val nanVec = Array.fill(dim)(0.1f).updated(3, Float.NaN)
      val zeroVec = Array.fill(dim)(0.0f)
      val good = emb.filter(col("vec_id") < 20)
        .select("vec_id", "embedding")
      val bad = Seq(9001L -> nanVec, 9002L -> zeroVec)
        .toDF("vec_id", "embedding")
      good.unionByName(bad).coalesce(1)
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
      val rules = Seq[graft.operators.Quality.Rule](
        FiniteArray("embedding"),
        NormInRange("embedding", 1e-6, 1e6))
      StreamingOps.streamingAllIndexIngest(spark, dir, base,
        admission = rules)
      val q = spark.table(s"${base}_quarantine")
        .select("vec_id", "violations").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(q.keySet === Set(9001L, 9002L))
      assert(q(9001L) === "finite:embedding") // orthogonal: NaN norm
      assert(q(9002L) === "norm:embedding")   // never fires norm rule
      // no rung indexed the poison; every rung indexed the good rows
      Seq(s"${base}_ann_vec", s"${base}_bq", s"${base}_sq",
        s"${base}_pq", s"${base}_ivf").foreach { m =>
        val ids = spark.table(m).select("vec_id").distinct()
          .as[Long].collect().toSet
        assert(!ids.contains(9001L) && !ids.contains(9002L), m)
        assert(ids.nonEmpty, m)
      }
      // and the served top-k is NaN-free
      val probe = emb.filter(col("vec_id") === 1L)
        .select((col("vec_id") + 500L).as("q_id"), col("embedding"))
      val scores = graft.operators.SqIndex.scoreExternal(probe, spark,
        s"${base}_sq", 5).select("sim").collect()
        .map(_.getDouble(0))
      assert(scores.nonEmpty && scores.forall(v => !v.isNaN))
    } finally {
      drop(fams: _*)
      rmCk(base)
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val paths =
        try {
          import scala.jdk.CollectionConverters._
          walk.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.toList
        } finally walk.close()
      paths.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("an EMPTY gated micro-batch admits cleanly (r18, ADVICE: SUM " +
      "over zero rows is NULL — a fully-held batch used to NPE the " +
      "stream and its replay deterministically)") {
    val base = s"admempty_p$pid"
    drop(s"${base}_quarantine", s"${base}_admission")
    try {
      val sp = spark
      import sp.implicits._
      val empty = Seq.empty[(Long, String)].toDF("doc_id", "lang")
      val (admitted, annOpt) = StreamingOps.admitBatch(spark, empty,
        Seq(OneOf("lang", Seq("en"))), 0.2, base, 7L, "spec")
      assert(admitted.count() === 0L)
      annOpt.foreach(_.unpersist())
      // the audit trail still records the batch: total 0, violations 0
      val m = spark.table(s"${base}_admission")
        .select("rule", "total", "violations", "_batch").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      assert(m.toSeq === Seq(("one_of:lang", 0L, 0L, 7L)))
    } finally drop(s"${base}_quarantine", s"${base}_admission")
  }

  test("the valve's refusal unpersists the annotated batch (r18, " +
      "ADVICE: every refused invocation/replay used to pin another " +
      "cached copy in the block manager for the session's lifetime)") {
    val base = s"admunp_p$pid"
    drop(s"${base}_quarantine", s"${base}_admission")
    try {
      val sp = spark
      import sp.implicits._
      val cachedBefore = spark.sparkContext.getPersistentRDDs.size
      val batch = Seq((1L, "xx"), (2L, "yy")).toDF("doc_id", "lang")
      // 6 refusals: a leak pins 6 new copies; parallel suites in this
      // JVM may legitimately add a cache or two in the window, so the
      // gate is growth < 6, not == 0
      (1 to 6).foreach { i =>
        val e = intercept[IllegalStateException] {
          StreamingOps.admitBatch(spark, batch,
            Seq(OneOf("lang", Seq("en"))), 0.2, base, i.toLong, "spec")
        }
        assert(e.getMessage.contains("feed looks poisoned"))
      }
      val growth =
        spark.sparkContext.getPersistentRDDs.size - cachedBefore
      assert(growth < 6,
        s"6 refusals grew the persisted-RDD set by $growth — the " +
          "valve is pinning the annotated batch")
    } finally drop(s"${base}_quarantine", s"${base}_admission")
  }

  test("schema drift through the gate (r18): a batch whose feed " +
      "changed shape is refused WHOLESALE with every drifted column " +
      "named in the audit; the conforming replay admits") {
    val base = s"admsch_p$pid"
    drop(s"${base}_quarantine", s"${base}_admission")
    try {
      val sp = spark
      import sp.implicits._
      import org.apache.spark.sql.types._
      val expected = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("lang", StringType)))
      val rules = Seq[graft.operators.Quality.Rule](
        graft.operators.Quality.Rule.SchemaMatches(expected))
      // the feed drifts: lang vanished, a rogue column appeared
      val drifted = Seq((1L, 0.5), (2L, 0.7)).toDF("doc_id", "rogue")
      val e = intercept[IllegalStateException] {
        StreamingOps.admitBatch(spark, drifted, rules, 0.5, base, 1L,
          "spec")
      }
      assert(e.getMessage.contains("feed looks poisoned"))
      // the quarantine names the drifted columns on every row...
      val q = spark.table(s"${base}_quarantine")
        .select("violations").collect().map(_.getString(0)).toSet
      assert(q === Set(
        "schema,schema:extra:rogue,schema:missing:lang"))
      // ...and the metrics slice carries the per-column sub-rules
      // alongside the stable summary
      val m = spark.table(s"${base}_admission")
        .select("rule", "violations").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(m === Map("schema" -> 2L, "schema:extra:rogue" -> 2L,
        "schema:missing:lang" -> 2L))
      // a conforming batch admits and baselines the summary at 0
      val clean = Seq((3L, "en")).toDF("doc_id", "lang")
      val (admitted, annOpt) = StreamingOps.admitBatch(spark, clean,
        rules, 0.5, base, 2L, "spec")
      assert(admitted.count() === 1L)
      annOpt.foreach(_.unpersist())
      val m2 = spark.table(s"${base}_admission")
        .where(org.apache.spark.sql.functions.col("_batch") === 2L)
        .select("rule", "violations").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(m2 === Map("schema" -> 0L))
    } finally drop(s"${base}_quarantine", s"${base}_admission")
  }

  test("footer drift on the STREAMING path (r18): the pinned reader " +
      "silently coerces a drifted parquet file, so SchemaMatches " +
      "inspects the batch's footers — wholesale refusal, per-column " +
      "names in the audit, nothing indexed") {
    val base = s"admftr_p$pid"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_admftr").toString
    drop(famTables(base): _*)
    rmCk(base)
    try {
      val sp = spark
      import sp.implicits._
      val docs = Tables(spark, sf, "documents")
      val rules = Seq[graft.operators.Quality.Rule](
        graft.operators.Quality.Rule.SchemaMatches(docs.schema))
      // batch 0: a conforming file admits
      docs.filter(col("doc_id") < 15)
        .coalesce(1).write.mode("append")
        .parquet(s"$dir/documents.parquet")
      StreamingOps.streamingDocumentIngest(spark, dir, base,
        admission = rules, maxQuarantineRate = 0.5)
      val indexed0 = spark.table(s"${base}_bm25")
        .select("doc_id").distinct().count()
      assert(indexed0 > 0)
      assert(spark.table(s"${base}_admission")
        .where(col("rule") === "schema")
        .agg(sum("violations")).head.getLong(0) === 0L)
      // batch 1: the feed drifts — lang vanished, a rogue column
      // appeared. The PINNED stream schema would read lang as null
      // and drop rogue silently; only the footer knows.
      docs.filter(col("doc_id") >= 15 && col("doc_id") < 25)
        .drop("lang").withColumn("rogue", lit(1.0))
        .coalesce(1).write.mode("append")
        .parquet(s"$dir/documents.parquet")
      val e = intercept[Exception] {
        StreamingOps.streamingDocumentIngest(spark, dir, base,
          admission = rules, maxQuarantineRate = 0.5)
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).take(8)
        .flatMap(t => Option(t.getMessage)).mkString(" | ")
      assert(msgs.contains("feed looks poisoned"), msgs)
      // the audit names the drifted columns...
      val m = spark.table(s"${base}_admission")
        .groupBy("rule").agg(sum("violations").as("v"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(m.contains("schema:missing:lang"), m)
      assert(m.contains("schema:extra:rogue"), m)
      assert(m("schema:missing:lang") > 0L)
      // ...and nothing from the drifted batch reached the index
      assert(spark.table(s"${base}_bm25")
        .select("doc_id").distinct().count() === indexed0)
    } finally {
      drop(famTables(base): _*)
      rmCk(base)
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val paths =
        try {
          import scala.jdk.CollectionConverters._
          walk.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.toList
        } finally walk.close()
      paths.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("a feed ALREADY drifted at stream start writes each schema " +
      "rule ONCE in the admission slice (late r18, review: the " +
      "pinned batch schema and the footers agree on the problem, and " +
      "the union used to double the rule's row — double-counting " +
      "every gauge that aggregates by rule)") {
    val base = s"admdup_p$pid"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_admdup").toString
    drop(s"${base}_quarantine", s"${base}_admission")
    try {
      val sp = spark
      import sp.implicits._
      // the drifted file IS the stream's first file, so the pinned
      // (inferred) batch schema is itself drifted — batch-schema and
      // footer discovery both name the same columns
      Seq((1L, "alpha body", 9.0))
        .toDF("doc_id", "text", "rogue")
        .coalesce(1).write.parquet(s"$dir/f")
      val f = new org.apache.hadoop.fs.Path(s"$dir/f")
      val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(f).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).head
      val batch = spark.read.parquet(part.toString)
      val expected = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType)))
      val rules = Seq[graft.operators.Quality.Rule](
        graft.operators.Quality.Rule.SchemaMatches(expected))
      val (_, annOpt) = StreamingOps.admitBatch(spark, batch, rules,
        1.0, base, 0L, "spec", source = Some(batch))
      annOpt.foreach(_.unpersist())
      val byRule = spark.table(s"${base}_admission")
        .groupBy("rule").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // every rule exactly once — no doubled rows
      assert(byRule.values.forall(_ == 1L), byRule.toString)
      assert(byRule.keySet === Set("schema", "schema:extra:rogue",
        "schema:missing:lang"), byRule.toString)
    } finally {
      drop(s"${base}_quarantine", s"${base}_admission")
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val paths =
        try {
          import scala.jdk.CollectionConverters._
          walk.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.toList
        } finally walk.close()
      paths.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("poisoned-feed valve: past the quarantine-rate threshold the " +
      "batch refuses wholesale with the evidence written; fixing the " +
      "threshold and re-invoking replays cleanly") {
    val base = s"admv_doc_p$pid"
    val vbase = s"admv_vec_p$pid"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_admv").toString
    val upsDir = java.nio.file.Files
      .createTempDirectory("graft_admv_ups").toString
    val extra = Seq(s"${base}_ups_ledger", s"${base}_ups_quarantine",
      s"${base}_ups_admission") ++ Seq("_ann", "_ann_vec", "_ann_cfg",
      "_bq", "_bq_cfg", "_sq", "_sq_cfg", "_pq", "_pq_cb", "_ivf",
      "_ivf_cent", "_ledger", "_quarantine", "_admission").map(vbase + _)
    drop(famTables(base) ++ extra: _*)
    rmCk(base); rmCk(s"${base}_ups"); rmCk(vbase)
    // every door's valve and rate check speak in its own verb's name
    def refused(verb: String)(body: => Unit): String = {
      val e = intercept[Exception](body)
      val chain = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).take(8)
        .flatMap(t => Option(t.getMessage)).toSeq
      assert(chain.exists(_.startsWith(s"$verb: batch 0 quarantined ")),
        chain.mkString(" | "))
      chain.mkString(" | ")
    }
    def rateRefused(verb: String)(body: => Unit): Unit =
      assert(intercept[IllegalArgumentException](body).getMessage ===
        s"requirement failed: $verb: maxQuarantineRate must be in [0, 1]")
    try {
      Tables(spark, sf, "documents").filter(col("doc_id") < 40)
        .write.mode("append").parquet(s"$dir/documents.parquet")
      rateRefused("streamingDocumentIngest") {
        StreamingOps.streamingDocumentIngest(spark, dir, base,
          admission = rules, maxQuarantineRate = 1.5)
      }
      val msgs = refused("streamingDocumentIngest") {
        StreamingOps.streamingDocumentIngest(spark, dir, base,
          admission = rules, maxQuarantineRate = 0.0)
      }
      assert(msgs.contains("feed looks poisoned"), msgs)
      // the refusal left the evidence...
      assert(spark.catalog.tableExists(s"${base}_quarantine"))
      assert(spark.table(s"${base}_quarantine").count() > 0)
      // ...but nothing reached the index and the ledger did not commit
      assert(!spark.catalog.tableExists(s"${base}_bm25"))
      assert(!spark.catalog.tableExists(s"${base}_ledger") ||
        spark.table(s"${base}_ledger").isEmpty)
      // operator raises the threshold (or fixes the feed) and replays
      StreamingOps.streamingDocumentIngest(spark, dir, base,
        admission = rules, maxQuarantineRate = 1.0)
      assert(spark.table(s"${base}_bm25").count() > 0)

      // the CDC upsert stream: a rewrite failing both rules
      val sp = spark
      import sp.implicits._
      Seq((1L, "tiny", "xx", "cdc", 4L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(upsDir)
      val docs = IndexGroup.documents(base)
      rateRefused("streamingUpserts") {
        StreamingOps.streamingUpserts(spark, upsDir, docs,
          admission = rules, maxQuarantineRate = 1.5)
      }
      refused("streamingUpserts") {
        StreamingOps.streamingUpserts(spark, upsDir, docs,
          admission = rules, maxQuarantineRate = 0.0)
      }

      // the vector ingest: one NaN embedding among good ones
      val emb = Tables(spark, sf, "embeddings")
      graft.operators.PqIndex.trainCodebook(emb, s"${vbase}_pq")
      graft.operators.IvfIndex.write(
        emb.filter(col("vec_id") < 30), s"${vbase}_ivf")
      spark.sql(s"DROP TABLE ${vbase}_ivf") // keep only the quantizer
      val dim = emb.select(size(col("embedding"))).head.getInt(0)
      emb.filter(col("vec_id") < 20).select("vec_id", "embedding")
        .unionByName(Seq(9001L -> Array.fill(dim)(0.1f)
          .updated(3, Float.NaN)).toDF("vec_id", "embedding"))
        .coalesce(1).write.mode("append").parquet(s"$dir/embeddings.parquet")
      val vecRules = Seq[graft.operators.Quality.Rule](
        FiniteArray("embedding"))
      rateRefused("streamingAllIndexIngest") {
        StreamingOps.streamingAllIndexIngest(spark, dir, vbase,
          admission = vecRules, maxQuarantineRate = 1.5)
      }
      refused("streamingAllIndexIngest") {
        StreamingOps.streamingAllIndexIngest(spark, dir, vbase,
          admission = vecRules, maxQuarantineRate = 0.0)
      }
    } finally {
      drop(famTables(base) ++ extra: _*)
      rmCk(base); rmCk(s"${base}_ups"); rmCk(vbase)
      Seq(dir, upsDir).foreach { d =>
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
        val paths =
          try {
            import scala.jdk.CollectionConverters._
            walk.sorted(java.util.Comparator.reverseOrder())
              .iterator().asScala.toList
          } finally walk.close()
        paths.foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }
}
