package graft

import graft.operators.Quality.Rule._
import graft.operators.TextOps.Retention
import graft.streaming.{IndexGroup, StreamingOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** QUARANTINE REMEDIATION — the verb that closes the admission
  * lifecycle (r18): rejected rows sit in the quarantine sinks with
  * their reasons; `remediateDocumentQuarantine` /
  * `remediateVectorQuarantine` heal the fixable ones IN PLACE
  * (fix → same rules → upsert verbs → scrub), the unfixable stay with
  * their original evidence, and re-running converges. Plus the hold
  * contract's no-trace closure: `holdDocuments`/`holdVectors` scrub
  * held ids from the quarantine sinks, and every gated write path
  * hold-filters BEFORE the gate so a replay (or a held CDC rewrite)
  * can never land held content in the audit trail again.
  */
class RemediationSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def famTables(base: String): Seq[String] = Seq(
    s"${base}_band", s"${base}_band_del", s"${base}_band_hold",
    s"${base}_bm25", s"${base}_bm25_del", s"${base}_bm25_hold",
    s"${base}_bm25_docs", s"${base}_hashes",
    s"${base}_ledger", s"${base}_quarantine", s"${base}_admission",
    s"${base}_ups_ledger", s"${base}_ups_quarantine",
    s"${base}_ups_admission")

  private def rmCk(base: String): Unit = {
    val ck = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      base.toLowerCase + "_ck")
    ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(ck, true)
    ()
  }

  private def rmDir(d: String): Unit = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
    val paths =
      try {
        import scala.jdk.CollectionConverters._
        walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.toList
      } finally walk.close()
    paths.foreach(java.nio.file.Files.deleteIfExists(_))
  }

  // English-looking bodies that pass the curation gate (≥30 tokens,
  // >25% distinct, en stopword hits) — remediated docs re-enter
  // through the ingest door's own trimmings, so the spec needs text
  // the door would actually keep
  private def enText(tag: String): String =
    s"this is the $tag body of a document holding plenty of english " +
      "filler words so that the curation gate keeps it namely " +
      "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo " +
      "sierra tango uniform victor whiskey xray yankee zulu"

  private def rules = Seq(
    OneOf("lang", Seq("en", "fr", "de")),
    InRange("n_chars", 60.0, 500.0))

  private def langFix(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.withColumn("lang",
      when(col("lang").isin("en", "fr", "de"), col("lang"))
        .otherwise(lit("en")))

  test("ingest-side remediation: fixable rows heal into the index " +
      "through the ingest door's own trimmings (curation + hash " +
      "dedup + hash rows), unfixable rows stay with their original " +
      "evidence, and a re-run converges") {
    val base = s"remdoc_p$pid"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_rem").toString
    drop(famTables(base): _*)
    rmCk(base); rmCk(s"${base}_ups")
    try {
      val sp = spark
      import sp.implicits._
      val feed = Seq(
        (1L, enText("first clean"), "en", "crawl", 130L),
        (2L, enText("second clean"), "en", "crawl", 140L),
        // healable: bad lang label, English text, length fine
        (11L, enText("mislabeled eleven"), "xx", "crawl", 150L),
        (12L, enText("mislabeled twelve"), "xx", "crawl", 160L),
        // healable lang, but its text EXACTLY duplicates doc 1 — the
        // heal must leave quarantine yet stay deduped by the hash gate
        (31L, enText("first clean"), "xx", "crawl", 130L),
        // unfixable: length violation the fix does not touch
        (21L, enText("too long twenty-one"), "en", "crawl", 999L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      feed.coalesce(1).write.mode("append")
        .parquet(s"$dir/documents.parquet")
      StreamingOps.streamingDocumentIngest(spark, dir, base,
        admission = rules)

      val qBefore = spark.table(s"${base}_quarantine")
        .select("doc_id").as[Long].collect().toSet
      assert(qBefore === Set(11L, 12L, 31L, 21L))

      // the cadence check names the backlog with its clearing verb
      assert(StreamingOps.due(spark, IndexGroup.documents(base)).exists(_ ==
        s"remediate-quarantine:${base}_quarantine rows=4 batches=1"),
        StreamingOps.due(spark, IndexGroup.documents(base)).mkString("; "))

      val summary = StreamingOps.remediateQuarantine(spark,
        IndexGroup.documents(base), langFix, rules)
      val rows = summary
        .select("quarantined", "healed", "remaining").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSeq === Seq((4L, 3L, 1L)))

      // the unfixable row remains, original violation intact
      val qAfter = spark.table(s"${base}_quarantine")
        .select("doc_id", "violations").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(qAfter.keySet === Set(21L))
      assert(qAfter(21L).contains("in_range:n_chars"))

      // healed 11/12 serve from the index; 31 healed but DEDUPED
      // (content already indexed as doc 1); 21 never entered
      val indexed = spark.table(s"${base}_bm25")
        .select("doc_id").distinct().as[Long].collect().toSet
      assert(indexed.contains(11L) && indexed.contains(12L))
      assert(!indexed.contains(31L) && !indexed.contains(21L))
      val (p, st) = graft.operators.TextOps.liveBm25(spark,
        s"${base}_bm25", "")
      val hits = graft.operators.TextOps.bm25ScoreIncr(
        Seq((1, "eleven")).toDF("q_id", "token"), p, st)
        .select("doc_id").as[Long].collect().toSet
      assert(hits === Set(11L))

      // the heal's hash rows landed — a redelivery of the SAME fixed
      // content is recognized, not re-indexed
      val hashed = spark.table(s"${base}_hashes")
        .select("doc_id").as[Long].collect().toSet
      assert(hashed.contains(11L) && hashed.contains(12L))

      // convergence: the same remediation again heals nothing, the
      // index doesn't grow, the leftover stays
      val postings = spark.table(s"${base}_bm25").count()
      val again = StreamingOps.remediateQuarantine(spark,
        IndexGroup.documents(base), langFix, rules)
        .select("quarantined", "healed", "remaining").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(again.toSeq === Seq((1L, 0L, 1L)))
      assert(spark.table(s"${base}_bm25").count() === postings)
    } finally {
      drop(famTables(base): _*)
      rmCk(base); rmCk(s"${base}_ups")
      rmDir(dir)
    }
  }

  test("CDC-side remediation: the LATEST quarantined version of an id " +
      "wins (the upsert discipline), superseded copies leave with it, " +
      "and partitions scrubbed empty disappear as directories") {
    val base = s"remcdc_p$pid"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_remc").toString
    val upsDir = java.nio.file.Files
      .createTempDirectory("graft_remc_ups").toString
    drop(famTables(base): _*)
    rmCk(base); rmCk(s"${base}_ups")
    try {
      val sp = spark
      import sp.implicits._
      // seed the family through plain ingest
      Seq((1L, enText("seed one"), "en", "crawl", 120L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append")
        .parquet(s"$dir/documents.parquet")
      StreamingOps.streamingDocumentIngest(spark, dir, base)

      // two CDC rewrites of doc 1, both lang-violating, in two files
      // → two batches (maxFilesPerTrigger=1, listing order)
      Seq((1L, enText("rewrite marigold"), "xx", "cdc", 120L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(upsDir)
      Thread.sleep(1100)
      Seq((1L, enText("rewrite zinnia"), "yy", "cdc", 120L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(upsDir)
      StreamingOps.streamingUpserts(spark, upsDir, IndexGroup.documents(base),
        admission = rules)
      val qBatches = spark.table(s"${base}_ups_quarantine")
        .select("_batch").as[Long].collect().sorted.toSeq
      assert(qBatches.size === 2 && qBatches.distinct.size === 2,
        s"fixture must quarantine two batches, got $qBatches")

      val summary = StreamingOps.remediateQuarantine(spark,
        IndexGroup.documents(base), langFix, rules, cdc = true)
      val rows = summary
        .select("batch", "quarantined", "healed", "remaining")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      assert(rows.toSeq ===
        qBatches.map(b => (b, 1L, 1L, 0L)),
        s"summary was ${rows.toSeq}")

      // the LATEST rewrite serves; the superseded one never indexed
      val (p, st) = graft.operators.TextOps.liveBm25(spark,
        s"${base}_bm25", "")
      def hits(tok: String): Set[Long] =
        graft.operators.TextOps.bm25ScoreIncr(
          Seq((1, tok)).toDF("q_id", "token"), p, st)
          .select("doc_id").as[Long].collect().toSet
      assert(hits("zinnia") === Set(1L))
      assert(hits("marigold") === Set.empty[Long])

      // both partitions scrubbed empty — and GONE as directories;
      // the cadence advisory clears with them
      assert(spark.table(s"${base}_ups_quarantine").count() === 0L)
      assert(!StreamingOps.due(spark, IndexGroup.documents(base))
        .exists(_.startsWith("remediate-quarantine")),
        StreamingOps.due(spark, IndexGroup.documents(base)).mkString("; "))
      val loc = graft.operators.TextOps.tableLocation(spark,
        s"${base}_ups_quarantine")
      val fs = loc.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val partDirs = fs.listStatus(loc).toSeq
        .filter(s => s.isDirectory &&
          s.getPath.getName.startsWith("_batch="))
      assert(partDirs.isEmpty,
        s"emptied partitions left behind: ${partDirs.map(_.getPath)}")
    } finally {
      drop(famTables(base): _*)
      rmCk(base); rmCk(s"${base}_ups")
      rmDir(dir); rmDir(upsDir)
    }
  }

  test("the hold contract leaves NO trace in the audit sinks: " +
      "holdDocuments scrubs the held id's content from quarantine " +
      "(metrics keep their counts), and a later remediation cannot " +
      "resurrect it") {
    val base = s"remhold_p$pid"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_remh").toString
    drop(famTables(base): _*)
    rmCk(base); rmCk(s"${base}_ups")
    try {
      val sp = spark
      import sp.implicits._
      Seq(
        (1L, enText("clean one"), "en", "crawl", 120L),
        (11L, enText("held eleven"), "xx", "crawl", 150L),
        (12L, enText("loose twelve"), "xx", "crawl", 160L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append")
        .parquet(s"$dir/documents.parquet")
      StreamingOps.streamingDocumentIngest(spark, dir, base,
        admission = rules)
      assert(spark.table(s"${base}_quarantine")
        .select("doc_id").as[Long].collect().toSet === Set(11L, 12L))
      val metricsBefore = spark.table(s"${base}_admission")
        .collect().map(_.toString).sorted.toSeq

      StreamingOps.hold(spark,
        IndexGroup.documents(base), Seq(11L).toDF("doc_id"))

      // the held id's CONTENT left the sink; the loose one stays; the
      // per-rule metrics history is untouched (counts, not content)
      assert(spark.table(s"${base}_quarantine")
        .select("doc_id").as[Long].collect().toSet === Set(12L))
      assert(spark.table(s"${base}_admission")
        .collect().map(_.toString).sorted.toSeq === metricsBefore)

      // remediation heals the loose doc but can never re-enter the
      // held one (it is gone from the sink AND hold-filtered)
      StreamingOps.remediateQuarantine(spark,
        IndexGroup.documents(base), langFix,
        rules)
      val indexed = spark.table(s"${base}_bm25")
        .select("doc_id").distinct().as[Long].collect().toSet
      assert(indexed.contains(12L) && !indexed.contains(11L))
    } finally {
      drop(famTables(base): _*)
      rmCk(base); rmCk(s"${base}_ups")
      rmDir(dir)
    }
  }

  test("the CDC gate hold-filters BEFORE quarantining: a held doc's " +
      "violating rewrite leaves no trace in the stream-scoped sink") {
    val base = s"remhcdc_p$pid"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_remhc").toString
    val upsDir = java.nio.file.Files
      .createTempDirectory("graft_remhc_ups").toString
    drop(famTables(base): _*)
    rmCk(base); rmCk(s"${base}_ups")
    try {
      val sp = spark
      import sp.implicits._
      Seq((1L, enText("seed one"), "en", "crawl", 120L),
        (2L, enText("seed two"), "en", "crawl", 120L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append")
        .parquet(s"$dir/documents.parquet")
      StreamingOps.streamingDocumentIngest(spark, dir, base)
      StreamingOps.hold(spark,
        IndexGroup.documents(base), Seq(1L).toDF("doc_id"))

      // one CDC batch: a violating rewrite of the HELD doc and a
      // violating rewrite of a loose one
      Seq(
        (1L, enText("held rewrite"), "xx", "cdc", 120L),
        (2L, enText("loose rewrite"), "xx", "cdc", 120L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(upsDir)
      StreamingOps.streamingUpserts(spark, upsDir, IndexGroup.documents(base),
        admission = rules)

      // the held doc's rewrite is NOWHERE: not quarantined (no trace),
      // not indexed (the hold); the loose rewrite quarantined normally
      val q = spark.table(s"${base}_ups_quarantine")
        .select("doc_id").as[Long].collect().toSet
      assert(q === Set(2L))
      val (p, st) = graft.operators.TextOps.liveBm25(spark,
        s"${base}_bm25", "")
      val hits = graft.operators.TextOps.bm25ScoreIncr(
        Seq((1, "rewrite")).toDF("q_id", "token"), p, st)
        .select("doc_id").as[Long].collect().toSet
      assert(hits === Set.empty[Long])
    } finally {
      drop(famTables(base): _*)
      rmCk(base); rmCk(s"${base}_ups")
      rmDir(dir); rmDir(upsDir)
    }
  }

  test("batch scoping: remediation of ONE batch heals only its rows; " +
      "the other batch's backlog stays for its own pass") {
    val base = s"remscope_p$pid"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_rems").toString
    val upsDir = java.nio.file.Files
      .createTempDirectory("graft_rems_ups").toString
    drop(famTables(base): _*)
    rmCk(base); rmCk(s"${base}_ups")
    try {
      val sp = spark
      import sp.implicits._
      Seq((1L, enText("seed one"), "en", "crawl", 120L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append")
        .parquet(s"$dir/documents.parquet")
      StreamingOps.streamingDocumentIngest(spark, dir, base)
      // two DIFFERENT docs' violating rewrites in two batches
      Seq((11L, enText("batchone violet"), "xx", "cdc", 120L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(upsDir)
      Thread.sleep(1100)
      Seq((12L, enText("batchtwo sorrel"), "yy", "cdc", 120L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(upsDir)
      StreamingOps.streamingUpserts(spark, upsDir, IndexGroup.documents(base),
        admission = rules)
      val batches = spark.table(s"${base}_ups_quarantine")
        .select("_batch").as[Long].collect().sorted.toSeq
      assert(batches.size === 2)

      val rows = StreamingOps.remediateQuarantine(spark,
        IndexGroup.documents(base),
        langFix, rules, cdc = true,
        batches = Some(Seq(batches.head)))
        .select("batch", "quarantined", "healed", "remaining")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      // only the scoped batch appears and heals; the other batch is
      // untouched backlog
      assert(rows.toSeq === Seq((batches.head, 1L, 1L, 0L)),
        rows.toSeq.toString)
      assert(spark.table(s"${base}_ups_quarantine")
        .select("doc_id").as[Long].collect().toSet === Set(12L))
    } finally {
      drop(famTables(base): _*)
      rmCk(base); rmCk(s"${base}_ups")
      rmDir(dir); rmDir(upsDir)
    }
  }

  test("batch scoping picks the LATEST version table-wide (late r18, " +
      "review): an id scoped by its FIRST rejected batch heals from " +
      "its NEWER out-of-scope rejection — the scrub is table-wide, " +
      "so a scope-local pick would index stale content AND destroy " +
      "the newer evidence") {
    val base = s"remlww_p$pid"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_remlww").toString
    val upsDir = java.nio.file.Files
      .createTempDirectory("graft_remlww_ups").toString
    drop(famTables(base): _*)
    rmCk(base); rmCk(s"${base}_ups")
    try {
      val sp = spark
      import sp.implicits._
      Seq((1L, enText("seed one"), "en", "crawl", 120L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append")
        .parquet(s"$dir/documents.parquet")
      StreamingOps.streamingDocumentIngest(spark, dir, base)
      // the SAME doc's violating rewrite lands twice: v1 in the
      // first CDC batch, v2 (newer content) in the second
      Seq((21L, enText("tokenoldword"), "xx", "cdc", 150L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(upsDir)
      Thread.sleep(1100)
      Seq((21L, enText("tokennewword"), "yy", "cdc", 150L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(upsDir)
      StreamingOps.streamingUpserts(spark, upsDir, IndexGroup.documents(base),
        admission = rules)
      val batches = spark.table(s"${base}_ups_quarantine")
        .select("_batch").as[Long].collect().sorted.toSeq
      assert(batches.size === 2)

      val rows = StreamingOps.remediateQuarantine(spark,
        IndexGroup.documents(base),
        langFix, rules, cdc = true,
        batches = Some(Seq(batches.head)))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSeq
      // both batches empty: the heal supersedes every quarantined
      // version of the id, and the summary prices the out-of-scope
      // batch's shrink too
      assert(rows === Seq((batches(0), 1L, 1L, 0L),
        (batches(1), 1L, 1L, 0L)), rows.toString)
      assert(spark.table(s"${base}_ups_quarantine").count() === 0L)
      // the INDEX serves v2's content — the latest delivered version
      // healed, not the scoped batch's stale v1
      val (p, st) = graft.operators.TextOps.liveBm25(spark,
        s"${base}_bm25", "")
      val qt = Seq((1, "tokennewword"), (2, "tokenoldword"))
        .toDF("q_id", "token")
      val hits = graft.operators.TextOps.bm25ScoreIncr(qt, p, st)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      assert(hits.contains((1, 21L)), hits.toString)
      assert(!hits.exists(_._1 == 2), hits.toString)
    } finally {
      drop(famTables(base): _*)
      rmCk(base); rmCk(s"${base}_ups")
      rmDir(dir); rmDir(upsDir)
    }
  }

  test("a fix that drops the id column is refused before anything " +
      "is written") {
    val base = s"remiae_p$pid"
    drop(s"${base}_quarantine", s"${base}_admission")
    try {
      val sp = spark
      import sp.implicits._
      val batch = Seq((1L, "xx")).toDF("doc_id", "lang")
      val (_, annOpt) = StreamingOps.admitBatch(spark, batch,
        Seq(OneOf("lang", Seq("en"))), 1.0, base, 0L, "spec")
      annOpt.foreach(_.unpersist())
      val e = intercept[IllegalArgumentException] {
        StreamingOps.remediateQuarantine(spark, IndexGroup.documents(base),
          fix = df => df.drop("doc_id"),
          admission = Seq(OneOf("lang", Seq("en"))))
      }
      assert(e.getMessage.contains("must preserve"), e.getMessage)
      // nothing was scrubbed
      assert(spark.table(s"${base}_quarantine").count() === 1L)
    } finally drop(s"${base}_quarantine", s"${base}_admission")
  }

  test("a fix that MERGES ids into duplicates is refused before " +
      "anything is indexed or scrubbed") {
    val base = s"remdup_p$pid"
    drop(s"${base}_quarantine", s"${base}_admission")
    try {
      val sp = spark
      import sp.implicits._
      val batch = Seq((1L, "xx"), (2L, "zz")).toDF("doc_id", "lang")
      val (_, annOpt) = StreamingOps.admitBatch(spark, batch,
        Seq(OneOf("lang", Seq("en"))), 1.0, base, 0L, "spec")
      annOpt.foreach(_.unpersist())
      // the fix canonicalizes BOTH quarantined ids to one and heals
      // the value — the upsert verbs would index two live versions
      // of id 99 (tombstone and append share the batch generation,
      // so neither supersedes the other; scores double-count)
      val e = intercept[IllegalArgumentException] {
        StreamingOps.remediateQuarantine(spark, IndexGroup.documents(base),
          fix = df => df.withColumn("doc_id", lit(99L))
            .withColumn("lang", lit("en")),
          admission = Seq(OneOf("lang", Seq("en"))))
      }
      assert(e.getMessage.contains("duplicate"), e.getMessage)
      assert(e.getMessage.contains("99"), e.getMessage)
      // nothing was scrubbed and no family table was minted
      assert(spark.table(s"${base}_quarantine").count() === 2L)
      assert(!spark.catalog.tableExists(s"${base}_bm25"))
    } finally drop(s"${base}_quarantine", s"${base}_admission")
  }

  test("a ledger replay re-derives the ORIGINAL rejects (the audit " +
      "reflects what the feed delivered) and re-remediation converges " +
      "without double-indexing") {
    val base = s"remrply_p$pid"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_remr").toString
    drop(famTables(base): _*)
    rmCk(base); rmCk(s"${base}_ups")
    try {
      val sp = spark
      import sp.implicits._
      Seq(
        (1L, enText("clean one"), "en", "crawl", 120L),
        (11L, enText("fixable eleven"), "xx", "crawl", 150L),
        (21L, enText("overlong"), "en", "crawl", 999L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append")
        .parquet(s"$dir/documents.parquet")
      StreamingOps.streamingDocumentIngest(spark, dir, base,
        admission = rules)
      StreamingOps.remediateQuarantine(spark,
        IndexGroup.documents(base), langFix,
        rules)
      assert(spark.table(s"${base}_quarantine")
        .select("doc_id").as[Long].collect().toSet === Set(21L))
      def postingsOf(id: Long): Long =
        graft.operators.TextOps.liveBm25(spark, s"${base}_bm25", "")._1
          .where(col("doc_id") === id).count()
      val healedPostings = postingsOf(11L)
      assert(healedPostings > 0L)

      // member loss → the next ingest resets and REPLAYS the feed:
      // the quarantine slice re-derives the original rejects, healed
      // row included (evidence of what the feed delivered)
      spark.sql(s"DROP TABLE ${base}_band")
      StreamingOps.streamingDocumentIngest(spark, dir, base,
        admission = rules)
      assert(spark.table(s"${base}_quarantine")
        .select("doc_id").as[Long].collect().toSet === Set(11L, 21L))

      // re-remediation converges: 11 heals again as a re-supersede
      // (same content), not a second copy
      val again = StreamingOps.remediateQuarantine(spark,
        IndexGroup.documents(base), langFix, rules)
        .select("quarantined", "healed", "remaining").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(again.toSeq === Seq((2L, 1L, 1L)))
      assert(spark.table(s"${base}_quarantine")
        .select("doc_id").as[Long].collect().toSet === Set(21L))
      assert(postingsOf(11L) === healedPostings,
        "replay + re-heal changed doc 11's served postings")
    } finally {
      drop(famTables(base): _*)
      rmCk(base); rmCk(s"${base}_ups")
      rmDir(dir)
    }
  }

  test("audit-sink retention by AGE: partitions older than the bound " +
      "drop (newest file mtime), younger ones stay, the family is " +
      "never touched") {
    val base = s"remage_p$pid"
    drop(s"${base}_quarantine", s"${base}_admission")
    try {
      val sp = spark
      import sp.implicits._
      Seq(0L, 1L).foreach { bid =>
        val batch = Seq((bid * 10 + 1, "xx")).toDF("doc_id", "lang")
        val (_, ann) = StreamingOps.admitBatch(spark, batch,
          Seq(OneOf("lang", Seq("en"))), 1.0, base, bid, "spec")
        ann.foreach(_.unpersist())
      }
      // a generous bound keeps everything
      assert(StreamingOps.pruneAdmissionAudit(spark, base,
        Retention.OlderThan(3600000L)).isEmpty)
      assert(spark.table(s"${base}_quarantine").count() === 2L)
      // from one hour in the future, every partition is over-age
      val dropped = StreamingOps.pruneAdmissionAudit(spark,
        base, Retention.OlderThan(60000L,
          nowMs = System.currentTimeMillis() + 3600000L))
      assert(dropped.exists(_.contains(s"${base}_quarantine/_batch=0")),
        dropped.mkString("; "))
      assert(dropped.exists(_.contains(s"${base}_quarantine/_batch=1")),
        dropped.mkString("; "))
      assert(spark.table(s"${base}_quarantine").count() === 0L)
    } finally drop(s"${base}_quarantine", s"${base}_admission")
  }

  test("a crash between the heal's upsert and the scrub CONVERGES on " +
      "re-run: the upsert re-supersedes the same content at a higher " +
      "barrier, the index serves ONE copy, quarantine empties") {
    val base = s"remcrash_p$pid"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_remx").toString
    drop(famTables(base): _*)
    rmCk(base); rmCk(s"${base}_ups")
    try {
      val sp = spark
      import sp.implicits._
      Seq(
        (1L, enText("clean one"), "en", "crawl", 120L),
        (11L, enText("fixable eleven"), "xx", "crawl", 150L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append")
        .parquet(s"$dir/documents.parquet")
      StreamingOps.streamingDocumentIngest(spark, dir, base,
        admission = rules)

      // simulate the torn state a kill between step 4 (ingest) and
      // step 5 (scrub) leaves: the healed row is ALREADY upserted,
      // but its quarantine row survived
      val healedByCrashedRun = Seq(
        (11L, enText("fixable eleven"), "en", "crawl", 150L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      graft.operators.TextOps.upsertBm25Docs(spark, s"${base}_bm25",
        healedByCrashedRun)
      graft.operators.TextOps.upsertBandDocs(spark, s"${base}_band",
        healedByCrashedRun)
      assert(spark.table(s"${base}_quarantine")
        .select("doc_id").as[Long].collect().toSet === Set(11L))

      // the re-run heals the same row again — upsert semantics make
      // that a re-supersede, not a second copy
      val rows = StreamingOps.remediateQuarantine(spark,
        IndexGroup.documents(base),
        langFix, rules)
        .select("quarantined", "healed", "remaining").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSeq === Seq((1L, 1L, 0L)))
      assert(spark.table(s"${base}_quarantine").count() === 0L)

      // ONE served copy: no token of doc 11 carries duplicate postings
      val (p, st) = graft.operators.TextOps.liveBm25(spark,
        s"${base}_bm25", "")
      val dup = p.where(col("doc_id") === 11L)
        .groupBy("token").count().where(col("count") > 1).count()
      assert(dup === 0L, "a healed doc is serving duplicate postings")
      val hits = graft.operators.TextOps.bm25ScoreIncr(
        Seq((1, "fixable")).toDF("q_id", "token"), p, st)
        .select("doc_id").as[Long].collect().toSet
      assert(hits === Set(11L))
    } finally {
      drop(famTables(base): _*)
      rmCk(base); rmCk(s"${base}_ups")
      rmDir(dir)
    }
  }

  test("vector remediation: a quarantined zero-norm embedding heals " +
      "through every rung's own upsert once re-normalized, and leaves " +
      "the vups sink") {
    val base = s"remvec_p$pid"
    val fams = Seq(s"${base}_ann", s"${base}_ann_vec",
      s"${base}_ann_cfg", s"${base}_ann_del", s"${base}_bq",
      s"${base}_bq_cfg", s"${base}_bq_del", s"${base}_sq",
      s"${base}_sq_cfg", s"${base}_sq_del", s"${base}_pq",
      s"${base}_pq_cb", s"${base}_pq_del", s"${base}_ivf",
      s"${base}_ivf_cent", s"${base}_ivf_del", s"${base}_ledger",
      s"${base}_quarantine", s"${base}_admission",
      s"${base}_vups_ledger", s"${base}_vups_quarantine",
      s"${base}_vups_admission")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_remv").toString
    val vupsDir = java.nio.file.Files
      .createTempDirectory("graft_remv_ups").toString
    drop(fams: _*)
    rmCk(base); rmCk(s"${base}_vups")
    try {
      val sp = spark
      import sp.implicits._
      val emb = Tables(spark, sf, "embeddings")
      graft.operators.PqIndex.trainCodebook(emb, s"${base}_pq")
      graft.operators.IvfIndex.write(
        emb.filter(col("vec_id") < 30), s"${base}_ivf")
      spark.sql(s"DROP TABLE ${base}_ivf") // keep only the quantizer
      val dim = emb.select(size(col("embedding"))).head.getInt(0)
      emb.filter(col("vec_id") < 20).select("vec_id", "embedding")
        .coalesce(1).write.mode("append")
        .parquet(s"$dir/embeddings.parquet")
      StreamingOps.streamingAllIndexIngest(spark, dir, base)

      val vecRules = Seq[graft.operators.Quality.Rule](
        FiniteArray("embedding"),
        NormInRange("embedding", 1e-6, 1e6))
      Seq(9002L -> Array.fill(dim)(0.0f))
        .toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append").parquet(vupsDir)
      StreamingOps.streamingUpserts(spark, vupsDir, IndexGroup.vectors(base),
        admission = vecRules)
      assert(spark.table(s"${base}_vups_quarantine")
        .select("vec_id").as[Long].collect().toSet === Set(9002L))

      val summary = StreamingOps.remediateQuarantine(spark,
        IndexGroup.vectors(base),
        fix = df => df.withColumn("embedding",
          transform(col("embedding"), x => lit(0.05f))),
        admission = vecRules, cdc = true)
      val rows = summary
        .select("quarantined", "healed", "remaining").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(rows.toSeq === Seq((1L, 1L, 0L)))

      // every rung serves the healed id; the sink is clean
      Seq(s"${base}_ann_vec", s"${base}_bq", s"${base}_sq",
        s"${base}_pq", s"${base}_ivf").foreach { m =>
        val ids = spark.table(m).select("vec_id").distinct()
          .as[Long].collect().toSet
        assert(ids.contains(9002L), m)
      }
      assert(spark.table(s"${base}_vups_quarantine").count() === 0L)

      // the INGEST-side vector sink heals through the same core: a
      // NaN-lane embedding rejected by the unified ingest re-enters
      // once the fix zeroes the poisoned lane
      val nanVec = Array.fill(dim)(0.1f).updated(3, Float.NaN)
      Seq(9003L -> nanVec).toDF("vec_id", "embedding")
        .coalesce(1).write.mode("append")
        .parquet(s"$dir/embeddings.parquet")
      StreamingOps.streamingAllIndexIngest(spark, dir, base,
        admission = vecRules)
      assert(spark.table(s"${base}_quarantine")
        .select("vec_id").as[Long].collect().toSet === Set(9003L))
      val ingSummary = StreamingOps.remediateQuarantine(spark,
        IndexGroup.vectors(base),
        fix = df => df.withColumn("embedding",
          transform(col("embedding"),
            x => when(isnan(x), lit(0.0f)).otherwise(x))),
        admission = vecRules)
        .select("quarantined", "healed", "remaining").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(ingSummary.toSeq === Seq((1L, 1L, 0L)))
      assert(spark.table(s"${base}_quarantine").count() === 0L)
      val annIds = spark.table(s"${base}_ann_vec")
        .select("vec_id").distinct().as[Long].collect().toSet
      assert(annIds.contains(9003L))
      // and the served top-k stays NaN-free after the heal
      val probe = emb.filter(col("vec_id") === 1L)
        .select((col("vec_id") + 600L).as("q_id"), col("embedding"))
      val scores = graft.operators.SqIndex.scoreExternal(probe, spark,
        s"${base}_sq", 5).select("sim").collect()
        .map(_.getDouble(0))
      assert(scores.nonEmpty && scores.forall(v => !v.isNaN))
    } finally {
      drop(fams: _*)
      rmCk(base); rmCk(s"${base}_vups")
      rmDir(dir); rmDir(vupsDir)
    }
  }
}
