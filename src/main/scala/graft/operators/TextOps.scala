package graft.operators

import graft.{Det, QDef, Tables}
import graft.functions.LlmOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis / dedup / JSON operators for the LLM-data-pipeline
  * extension surface (SURVEY.md §2.11 X1, X4-X6): language-ID heuristic,
  * quality scoring, token counting, fingerprinting, exact + MinHash-LSH
  * near dedup, JSON extraction, and the LLMClient stub hook.
  *
  * Everything stays in Column expressions / higher-order functions (no
  * UDFs) except the LLM hook, which is deliberately `mapPartitions` to
  * model per-partition client amortization.
  *
  * Scale notes: per-doc ops are embarrassingly parallel (no shuffle);
  * dedup shuffles once on the hash/band key; the LSH candidate join is the
  * 100 TB path (candidates ≈ band collisions, never the n² cross join).
  */
object TextOps {

  /** The q_bm25 literal query set — one definition feeding BOTH the
    * Spark broadcast frame and the oracle's VALUES list, so the two
    * sides cannot drift. Terms are plain `[a-z]+` words (they are
    * spliced into SQL unquote-escaped). Declared BEFORE `defs`: the
    * oracle strings are built eagerly at object init.
    */
  private[graft] val Bm25Queries: Seq[(Int, String)] = Seq(
    (1, "spark window join"),
    (2, "fast hash scan merge"),
    (3, "customer order data stream"))

  /** ONE oracle text for every BM25 probe that promises exact batch
    * parity — q_bm25 (stored denormalized index) and q_bm25_incr
    * (append-maintained index) are gated by this identical SQL, which
    * is itself the strongest statement of the incremental path's
    * correctness: however the index was built, the scores hash-match a
    * from-scratch computation.
    *
    * CAST(tf AS DOUBLE) before the *2.2: DuckDB types a bare tf*2.2 as
    * exact DECIMAL (2.2 is DECIMAL(2,1)), which rounds differently from
    * Spark's double(2.2)*tf in the last ulp — with a double left
    * operand the 2.2 is promoted and both engines run the identical
    * IEEE multiply. The OTHER decimal literals are safe: 0.5/0.75 are
    * binary-exact (the decimal intermediates convert to the same
    * doubles Spark computes) and 1.2 multiplies an already-double
    * operand.
    */
  private val Bm25OracleSql: String =
    "WITH q(q_id, qtext) AS (VALUES " +
      Bm25Queries.map { case (i, t) => s"($i, '$t')" }.mkString(", ") +
      "), " +
      "qt AS (SELECT q_id, unnest(string_split(qtext, ' ')) AS token " +
      "FROM q), " +
      "toks AS (SELECT doc_id, unnest(string_split_regex(" +
      "trim(coalesce(text, '')), '\\s+')) AS token FROM documents), " +
      "tf AS (SELECT doc_id, token, count(*) AS tf FROM toks " +
      "GROUP BY doc_id, token), " +
      "dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks " +
      "GROUP BY doc_id), " +
      "df AS (SELECT token, count(*) AS df FROM tf GROUP BY token), " +
      "n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl), " +
      "t AS (SELECT qt.q_id, tf.doc_id, " +
      "((n.n_docs - df.df + 0.5) / (df.df + 0.5)) * " +
      "((CAST(tf.tf AS DOUBLE) * 2.2) / (tf.tf + 1.2 * " +
      "(1.0 - 0.75 + 0.75 * dl.dl / n.avgdl))) AS term " +
      "FROM qt JOIN tf USING (token) JOIN df USING (token) " +
      "JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN n), " +
      "s AS (SELECT q_id, doc_id, " +
      Det.exactSumSql("term", 6) + " AS score " +
      "FROM t GROUP BY q_id, doc_id) " +
      "SELECT q_id, doc_id, score, rn FROM (SELECT *, " +
      "CAST(row_number() OVER (PARTITION BY q_id " +
      "ORDER BY score DESC, doc_id) AS INT) AS rn FROM s) " +
      "WHERE rn <= 10"

  /** Denormalized Okapi BM25 inverted-index rows over a documents-shaped
    * frame: one row per (token, doc) posting carrying every corpus
    * statistic the scorer needs (tf, df, dl, n_docs, avgdl). ONE corpus
    * tokenize pass builds tf; dl, df and the corpus constants all DERIVE
    * from it (dl = Σ tf per doc, df = postings length), never from a
    * documents rescan. `tf` arrives pre-persisted from the caller (it
    * feeds four derivations) — [[writeBm25Index]] owns its lifecycle.
    */
  private def bm25PostingRows(tf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val dfq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = dl.agg(count(lit(1)).as("n_docs"),
      (sum("dl").cast("double") / count(lit(1))).as("avgdl"))
    tf.join(dfq, "token").join(dl, "doc_id").crossJoin(broadcast(n))
  }

  /** Materialize a corpus's BM25 postings as a STORED table bucketed +
    * sorted on `token` — the same maintain-once/probe-many shape as
    * [[writeBandIndex]] (VERDICT r09 #1): the postings shuffle ONCE here
    * at write time, and every subsequent query probe joins the stored
    * table on its bucket key with NO Exchange on the corpus side — only
    * the (tiny) query-term side shuffles to the bucket count (gated in
    * Bm25IndexSpec under forced sort-merge). The corpus constants
    * (n_docs, avgdl) ride denormalized in the rows, so a probe needs no
    * side computation at all. At 100 TB the index is maintained
    * incrementally at ingest; here it rebuilds per corpus (see
    * [[bm25Index]]).
    */
  /** CTAS (`saveAsTable` on a table the catalog doesn't know) validates
    * that the managed location is ABSENT — but the in-memory catalog
    * dies with the JVM while the warehouse directory survives it, so a
    * previous process's stored index would permanently wedge every
    * later run with LOCATION_ALREADY_EXISTS. Before building a table
    * the CURRENT catalog has no entry for, clear any orphan location.
    * (When the catalog DOES know the table, mode("overwrite") handles
    * replacement and this is a no-op.)
    *
    * CALLER CONTRACT (review finding r12): this deletes a warehouse
    * directory for ANY table the current in-memory catalog doesn't
    * know, so a caller-supplied table name shared between two live
    * processes would let process B delete a directory process A is
    * actively serving. Every public builder that takes a table name
    * ([[writeBm25Index]], [[writeBandIndex]], [[appendBm25Postings]],
    * StreamingOps.streamingBm25Ingest, Similarity's index writers)
    * therefore requires names that are PER-PROCESS UNIQUE in a shared
    * warehouse — derive them via [[indexTableName]] (pid-tokenized,
    * dead-pid-swept) or suffix a pid as the test suites do; the
    * internal memoized families already comply.
    */
  private[graft] def clearOrphanLocation(
      s: org.apache.spark.sql.SparkSession, table: String): Unit =
    if (!s.catalog.tableExists(table)) {
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) { fs.delete(loc, true); () }
    }

  /** Stored build-time index configuration (VERDICT r12 next-round #1:
    * "make dim a stored build-time property of each index") — a 1-row
    * `<table>_cfg` sibling holding the integer parameters the index
    * was built with (dim; banding for ANN). First maintenance call
    * creates it; every later call REQUIRES an exact match, so a
    * mixed-width append (a dim-768 batch into a dim-64 index — which
    * would otherwise degrade silently: cross-width dots are NULL and
    * candidates just vanish) fails loudly at the ingest site instead.
    * Probes that need the config ([[graft.operators.AnnIndex
    * .scoreExternal]]'s external-query banding) read it from here, so
    * a serving path no longer trusts the caller to repeat the build
    * parameters.
    */
  private[graft] def ensureIndexConfig(s: org.apache.spark.sql.SparkSession,
      table: String, cfg: Seq[(String, Int)]): Unit = {
    val t = table + "_cfg"
    if (s.catalog.tableExists(t)) {
      val row = s.table(t).collect()(0)
      cfg.foreach { case (k, v) =>
        // a cfg row LACKING the key (an older pin layout, or a
        // different family's row under this name) is a mismatch like
        // any other — raise the same descriptive error, not getAs's
        // opaque field-not-found (ADVICE r13)
        require(row.schema.fieldNames.contains(k),
          s"$table was built with a config that has no '$k' " +
            s"(stored keys: ${row.schema.fieldNames.mkString(", ")}); " +
            s"this call passed $k=$v — index config is fixed at build " +
            "time (rebuild to change it)")
        val got = row.getAs[Int](k)
        require(got == v,
          s"$table was built with $k=$got; this call passed $k=$v — " +
            "index config is fixed at build time (rebuild to change it)")
      }
    } else {
      clearOrphanLocation(s, t)
      writeIndexConfig(s, table, cfg)
    }
  }

  private def writeIndexConfig(s: org.apache.spark.sql.SparkSession,
      table: String, cfg: Seq[(String, Int)]): Unit = {
    val sp = s
    import sp.implicits._
    cfg.foldLeft(Seq(1).toDF("_one")) { case (d, (k, v)) =>
        d.withColumn(k, org.apache.spark.sql.functions.lit(v))
      }.drop("_one")
      .write.mode("overwrite").saveAsTable(table + "_cfg")
  }

  /** RE-PIN a family's config — the heal-path escape hatch from
    * [[ensureIndexConfig]]'s exact-match contract (which exists to
    * refuse mismatched INGEST; a repair that just rebuilt the data to
    * a new parameter legitimately rewrites the pin afterwards —
    * AnnIndex.rebuildBandsFromPayload's plane-modulus upgrade). One
    * overwrite command, no deliberate drop-first window: a crash
    * leaves either the old pin (re-run converges) or the new one. */
  private[graft] def overwriteIndexConfig(
      s: org.apache.spark.sql.SparkSession, table: String,
      cfg: Seq[(String, Int)]): Unit = withBuildLock(s) {
    clearOrphanLocation(s, table + "_cfg")
    writeIndexConfig(s, table, cfg)
  }

  /** The stored config row as a map, for probes that need the build
    * parameters (scoreExternal). */
  private[graft] def readIndexConfig(s: org.apache.spark.sql.SparkSession,
      table: String): Option[Map[String, Int]] =
    if (!s.catalog.tableExists(table + "_cfg")) None
    else Some(configRow(s.table(table + "_cfg").collect()(0)))

  /** A `_cfg` row (live or a snapshot's meta copy) as a map. */
  private[graft] def configRow(
      row: org.apache.spark.sql.Row): Map[String, Int] =
    row.schema.fieldNames.map(k => k -> row.getAs[Int](k)).toMap

  /** COMPACT an append-grown bucketed index table. Append-only
    * maintenance (appendBm25Postings, AnnIndex/IvfIndex/PqIndex/
    * BqIndex.append, the streaming ingests) deliberately never
    * rewrites stored rows — per-batch cost O(batch) — but each ingest
    * batch adds a file per bucket, so after N batches a probe opens
    * N× the files (footer/open overhead) even though its PLAN stays
    * bucketed and exchange-free. This is the standard maintenance op
    * every append-only store pairs with its ingest path: rewrite the
    * table's content into a fresh table with the IDENTICAL bucket/sort
    * spec (read from the catalog, so compaction cannot drift from the
    * build), repartitioned on the bucket key so each task holds
    * exactly one bucket → ONE file per bucket, then swap names.
    *
    * Guarantees gated in CompactionSpec: row-identical content,
    * bucket spec preserved (a post-compaction probe join still plans
    * with zero Exchange on the stored side), file count collapsed to
    * `numBuckets`. The whole op runs under [[bm25BuildLock]] (ADVICE
    * r12), which serializes in-process BUILDERS and the memoized
    * entry points ([[memoIndex]], [[liveBm25]]) — those re-resolve
    * tables under the lock after healing. Direct PROBE calls
    * (AnnIndex/IvfIndex/PqIndex topK, exceptTombstones consumers) do
    * NOT take the lock: a probe planned or executing concurrently
    * with a maintenance swap can transiently fail (TABLE_OR_VIEW_
    * NOT_FOUND in the rename-out window, or deleted files from the
    * dropped `_old` location) and should be retried — wrap serving
    * paths in [[retryingProbe]], which classifies exactly those two
    * failures, refreshes the family's relations, and re-plans; the
    * swap never
    * corrupts data, only invalidates in-flight reads (ADVICE r13
    * corrected the earlier claim that probes serialize too); the swap
    * itself is the two-rename
    * [[swapIndexTables]] dance with `_old` backup — a crash at ANY
    * step leaves a complete copy recoverable by [[recoverSwap]],
    * which both this function and [[memoIndex]] run first, so the
    * next touch heals WITHOUT a full rebuild. Caller-supplied names
    * follow the clearOrphanLocation contract (per-process unique).
    */
  def compactIndex(s: org.apache.spark.sql.SparkSession,
      table: String, guard: FoldGuard = FoldGuard.Refuse): Unit =
    withBuildLock(s) {
      rewriteBucketed(s, table, identity, guard)
    }

  /** The shared spec-preserving rewrite behind [[compactIndex]] and
    * [[vacuumIndex]]: re-materialize a bucketed table (content
    * optionally transformed) into a fresh one-file-per-bucket layout
    * with the IDENTICAL bucket/sort spec read from the catalog, then
    * promote it via the atomic swap. Callers hold [[bm25BuildLock]].
    */
  private[graft] def rewriteBucketed(s: org.apache.spark.sql.SparkSession,
      table: String,
      transform: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame,
      guard: FoldGuard = FoldGuard.Refuse): Unit = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    // a crashed GROUP swap (a refresh died mid-promotion) must heal
    // before compaction stages its own `_compact` tmp — otherwise the
    // marker's later replay could mistake that tmp for the stranded
    // refresh replacement
    healCrashedSwaps(s, Seq(table))
    // fold-aware snapshots (r17): this rewrite replaces every data
    // file of `table` — check the manifest snapshots pinning them
    // BEFORE staging anything
    guardFold(s, s"rewrite of $table", Seq(table), guard)
    val meta = s.sessionState.catalog
      .getTableMetadata(TableIdentifier(table))
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"compactIndex: $table has no bucket spec — compaction exists to " +
        "restore bucketed-probe file counts; plain tables don't need it"))
    val tmp = table + "_compact"
    s.sql(s"DROP TABLE IF EXISTS $tmp")
    clearOrphanLocation(s, tmp)
    // repartition(numBuckets, bucketCols): HashPartitioning's
    // partitionIdExpression is pmod(murmur3(cols), n) — the SAME
    // expression bucketing assigns file ids with, so shuffle partition
    // i holds exactly bucket i and each task writes ONE file. AQE
    // breaks that task↔bucket alignment (observed: its post-shuffle
    // optimizations regroup the 8 reduce partitions onto 4 tasks that
    // each held up to 8 buckets = 23 files), so the whole write runs
    // with AQE off — a maintenance write needs a FIXED partitioning,
    // which is precisely what adaptivity exists to override.
    // the rewrite runs in a CLONED session (shared catalog, isolated
    // conf) so disabling AQE for the one fixed-partitioning write
    // cannot de-adapt queries planned concurrently on the caller's
    // session
    val s2 = s.newSession()
    // a bare session's newSession() drops what ensure armed it with
    // (its temp functions and as-of strategy); the transforms need them
    graft.GraftSession.ensure(s2)
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    // read the FILES, not the catalog table: the bucketed scan
    // already claims HashPartitioning(bucketCols, n), which makes
    // the repartition "redundant" and eliminates the very shuffle
    // that aligns tasks to buckets (the writer then bin-packs the
    // small files into arbitrary tasks). A plain parquet read has
    // no claimed partitioning, so the repartition stands.
    val one = transform(s2.read.parquet(meta.location.toString))
      .repartition(spec.numBuckets,
        spec.bucketColumnNames.map(col): _*)
    val w = one.write
      .bucketBy(spec.numBuckets, spec.bucketColumnNames.head,
        spec.bucketColumnNames.tail: _*)
    val ws =
      if (spec.sortColumnNames.nonEmpty)
        w.sortBy(spec.sortColumnNames.head,
          spec.sortColumnNames.tail: _*)
      else w
    ws.saveAsTable(tmp)
    swapIndexTables(s, table, tmp)
  }

  /** GENERATION-BARRIER tombstones (r14): a `<delTable>` entry is
    * (idCol, gen) and kills exactly the index rows of that id whose
    * own `gen` column is STRICTLY BELOW the entry's — so one
    * mechanism carries both lifecycle ops:
    *   - DELETE tombstones at [[TerminalGen]] (Long.MaxValue): every
    *     row of the id, at any generation past or future, is dead —
    *     the terminal never-recycled-ids contract, unchanged;
    *   - UPSERT tombstones at a finite barrier g and appends the
    *     replacement rows stamped gen = g: the barrier kills every
    *     OLDER generation while the new rows (gen = g, not < g)
    *     survive. A plain tombstone could not express this — it
    *     would kill the replacement content along with the old
    *     (the r13 "ids are terminal, so nothing can be refreshed"
    *     gap this design closes).
    * Rows in index tables written before the gen column existed (and
    * frames without one) read as gen 0. Entries are deduped on
    * (id, gen) — a replayed delete or upsert appends nothing new
    * (idempotent; a double delete cannot double-subtract anything
    * downstream).
    */
  private[graft] val TerminalGen: Long = Long.MaxValue

  /** The next free upsert barrier for a family: one past the highest
    * finite generation any entry in its tombstone list records (1 on
    * a fresh family). Terminal entries don't advance it — they are
    * ceilings, not versions. Driver-side O(|list|) agg; callers hold
    * [[bm25BuildLock]] so the read-then-use is race-free in-process.
    */
  private[graft] def nextGen(s: org.apache.spark.sql.SparkSession,
      delTable: String): Long =
    if (!s.catalog.tableExists(delTable)) 1L
    else {
      val r = s.table(delTable).filter(col("gen") =!= lit(TerminalGen))
        .agg(max("gen")).collect()(0)
      if (r.isNullAt(0)) 1L else r.getLong(0) + 1L
    }

  /** The generation a FULL-REBUILD overwrite must stamp its rows at:
    * the family's current top finite barrier (0 on a family that
    * never took an upsert — the classic fresh-build stamp). The
    * refresh paths already ride this (commit "gTop" — re-materialized
    * rows are current by definition, so they survive every surviving
    * finite upsert barrier); ADVICE r14 found the write paths missed
    * it: a rebuild stamped gen=0 over a previously-upserted family
    * left every rebuilt row of an upserted id strictly below its
    * surviving barrier, so exceptTombstones silently dropped those
    * ids from all probes. Terminal deletes still kill their ids at
    * any finite gen — rebuild preserves the never-recycled contract.
    */
  private[graft] def rebuildGen(s: org.apache.spark.sql.SparkSession,
      delTable: String): Long = nextGen(s, delTable) - 1L

  /** TOMBSTONED DELETE/SUPERSEDE — the lifecycle op the append-only
    * indexes lacked (insert = append/ingest, retrain = refresh,
    * rewrite = compact). `ids` (single column `idCol`) append to the
    * small `<delTable>` list as (id, `gen`) barrier entries (see the
    * [[TerminalGen]] doc for the semantics); probes subtract them via
    * [[exceptTombstones]] (an anti-join the optimizer broadcasts
    * while the list is small), and [[vacuumIndex]] later folds the
    * tombstones into the stored files and clears the list. Only
    * (id, gen) pairs not already present append (idempotent). ID
    * SEMANTICS: a [[TerminalGen]] delete is terminal for an id — the
    * ingest paths assume ids are never recycled (the same contract
    * streamingDocumentIngest's dedup enforces), so re-appending a
    * deleted id leaves it deleted; only an explicit upsert (which
    * stamps its rows AT its barrier) refreshes content, and even an
    * upsert cannot resurrect a terminally deleted id (its rows stay
    * below the terminal ceiling).
    */
  private[graft] def tombstone(s: org.apache.spark.sql.SparkSession,
      delTable: String, ids: org.apache.spark.sql.DataFrame,
      idCol: String, gen: Long = TerminalGen): Unit =
    appendNovel(s, delTable,
      ids.select(col(idCol)).distinct().withColumn("gen", lit(gen)),
      Seq(idCol, "gen"))

  /** The one write of the append-only id lists (tombstones, holds):
    * under the build lock, append the rows of `fresh` that `table`
    * does not hold yet by `keys` — a replayed delete, upsert or hold
    * appends nothing. */
  private def appendNovel(s: org.apache.spark.sql.SparkSession,
      table: String, fresh: org.apache.spark.sql.DataFrame,
      keys: Seq[String]): Unit = withBuildLock(s) {
    clearOrphanLocation(s, table)
    val novel =
      if (s.catalog.tableExists(table))
        fresh.join(s.table(table), keys, "left_anti")
      else fresh
    novel.coalesce(1).write.mode("append").saveAsTable(table)
    s.catalog.refreshTable(table)
  }

  /** LEGAL-HOLD registry (r15, VERDICT item 4 — the vacuumIndex
    * HONESTY NOTE's "caller owns that registry" gap, closed in the
    * engine): `<family>_hold` is an APPEND-ONLY id set filtered at
    * every append/upsert/ingest entry of its family, so held content
    * can never (re-)enter the index — and because it is a SIBLING
    * table that no vacuum/compact/reset path ever touches, it
    * survives the vacuum that folds terminal tombstones away (the
    * exact hazard: "terminal" deletion is terminal only up to the
    * next vacuum; a hold is terminal, period). Holds are ingest-side
    * gates, not probe-side filters — pair a hold with the family's
    * delete to remove already-indexed content, then vacuum freely.
    * Ids only ever append (no release op — an un-holdable registry is
    * the point; drop the table deliberately to clear it).
    * [[describeIndex]] reports the count.
    */
  private[graft] def holdIds(s: org.apache.spark.sql.SparkSession,
      holdTable: String, ids: org.apache.spark.sql.DataFrame,
      idCol: String): Unit =
    appendNovel(s, holdTable, ids.select(col(idCol)).distinct(),
      Seq(idCol))

  /** Ingest-side hold gate: subtract the family's hold registry from
    * an incoming batch. No registry (the common case) = the frame
    * passes through untouched, plans unchanged. */
  private[graft] def exceptHeld(df: org.apache.spark.sql.DataFrame,
      s: org.apache.spark.sql.SparkSession, holdTable: String,
      idCol: String): org.apache.spark.sql.DataFrame =
    if (!s.catalog.tableExists(holdTable)) df
    else df.join(s.table(holdTable).select(col(idCol)), Seq(idCol),
      "left_anti")

  /** Subtract a tombstone list from an index scan — the probe-side
    * half of [[tombstone]]. When no list exists (the common case) the
    * frame passes through UNTOUCHED, so probe plans without deletes
    * are byte-identical to the pre-delete engine. The existence check
    * runs at plan-build time on the driver; the anti-join's small
    * side is the tombstone list, which AQE broadcasts at the sizes a
    * compaction cadence keeps it at. A row dies iff SOME entry of its
    * id has a barrier strictly above the row's generation — an equi
    * hash anti-join on the id with the gen comparison as its residual
    * condition, so the plan shape (and broadcastability) is unchanged
    * from the plain-id form.
    */
  private[graft] def exceptTombstones(
      df: org.apache.spark.sql.DataFrame,
      s: org.apache.spark.sql.SparkSession, delTable: String,
      idCol: String): org.apache.spark.sql.DataFrame =
    exceptTombstonesFrame(df,
      if (s.catalog.tableExists(delTable)) Some(s.table(delTable))
      else None, idCol)

  /** [[exceptTombstones]] over an explicit tombstone FRAME instead of
    * a live catalog table — [[IndexFamily.frames]] subtracts a
    * snapshot's tombstone list, read from its manifested files, from
    * every as-of member read (r17). None = no list (nothing
    * subtracted), matching the absent-table case. */
  private[graft] def exceptTombstonesFrame(
      df: org.apache.spark.sql.DataFrame,
      delFrame: Option[org.apache.spark.sql.DataFrame],
      idCol: String): org.apache.spark.sql.DataFrame =
    delFrame match {
      case None => df
      case Some(d) =>
        val del =
          d.select(col(idCol).as("_del_id"), col("gen").as("_del_gen"))
        val rowGen =
          if (df.columns.contains("gen")) df("gen") else lit(0L)
        df.join(del, df(idCol) === col("_del_id") &&
          rowGen < col("_del_gen"), "left_anti")
    }

  /** Fold a tombstone list into its index family's stored files and
    * clear it: each bucketed `member` is rewritten WITHOUT the dead
    * rows (the [[compactIndex]] rewrite with the gen-aware
    * [[exceptTombstones]] filter — same spec-preserving
    * one-file-per-bucket layout, same atomic swap), then the list is
    * dropped, so subsequent probes pay no anti-join at all. Surviving
    * rows' `gen` column RESETS TO 0 in the rewrite: with the barrier
    * entries gone, a later upsert restarts its barriers from
    * [[nextGen]]'s fresh count, and a stale high generation on stored
    * rows would let superseded rows outlive the new barriers. Post-
    * vacuum, the family is therefore byte-identical to a from-scratch
    * build over the survivors — including the gen column. Members
    * that don't exist are skipped; a member without the id column is
    * a caller error (loud analysis failure). HONESTY NOTE on terminal
    * history: folding drops the terminal entries along with the dead
    * rows — a from-scratch build over survivors knows nothing of past
    * deletions, and neither does the vacuumed family. "Terminal" is
    * therefore terminal against every op UP TO the next vacuum; a
    * caller that must exclude an id forever (legal holds, poisoned
    * content) owns that registry outside the index and filters its
    * ingest/upsert batches against it.
    */
  def vacuumIndex(s: org.apache.spark.sql.SparkSession,
      delTable: String, members: Seq[String], idCol: String,
      guard: FoldGuard = FoldGuard.Refuse): Unit = withBuildLock(s) {
    if (s.catalog.tableExists(delTable)) {
      // an EMPTY list must not trigger the full O(index) rewrite — at
      // scale that's the difference between dropping one tiny table
      // and re-shuffling the whole corpus for nothing
      val listEmpty = s.table(delTable).isEmpty
      // fold-aware snapshots (r17): ONE guard pass over exactly what
      // this vacuum will touch — the tombstone list always, the
      // members only when a nonempty list makes them rewrite. The
      // inner rewrites then run unguarded (Orphan), so an Anchor
      // pass anchors once, up front.
      guardFold(s, s"vacuumIndex of $delTable",
        if (listEmpty) Seq(delTable) else delTable +: members, guard)
      if (!listEmpty) {
        members.filter(s.catalog.tableExists).foreach { m =>
          rewriteBucketed(s, m, guard = FoldGuard.Orphan, transform = df => {
            // resolve the list through the REWRITE session (the clone
            // shares the catalog) — joining frames across sessions is
            // undefined territory
            val kept = exceptTombstones(df, df.sparkSession, delTable,
              idCol)
            if (kept.columns.contains("gen"))
              kept.withColumn("gen", lit(0L))
            else kept
          })
        }
      }
      // the list clears by DROP — unless a live manifest snapshot
      // records it as a MEMBER, in which case it clears by TRUNCATE
      // (r17): a drop would leave the tag's restore refusing on a
      // missing member, and a presence-only pin (the list was EMPTY
      // at snapshot) has no files for the Anchor pass above to copy
      // aside. An empty kept table and an absent one are functionally
      // identical to every probe (exceptTombstones no-ops on both),
      // so truncation preserves the vacuum contract AND the restore
      // point. Orphan drops as before — knowingly.
      val presencePinned = guard != FoldGuard.Orphan &&
        snapshotMemberPins(s, delTable).nonEmpty
      if (presencePinned) {
        s.sql(s"TRUNCATE TABLE $delTable")
        s.catalog.refreshTable(delTable)
      } else {
        s.sql(s"DROP TABLE $delTable")
        clearOrphanLocation(s, delTable)
      }
    }
  }

  /** Manifest tags recording `member` as a snapshot MEMBER at all —
    * the presence-pin check for verbs that would DROP the table
    * (file pins alone miss a present-but-EMPTY member, whose drop
    * still breaks the tag's restore). */
  private def snapshotMemberPins(s: org.apache.spark.sql.SparkSession,
      member: String): Seq[(String, String)] = {
    val bases = (member +: SnapshotManifestSiblings.collect {
      case suf if member.endsWith(suf) => member.stripSuffix(suf)
    }).distinct
    bases.flatMap { b =>
      listSnapshots(s, b).map(_._1).flatMap { tag =>
        if (readManifest(s, s"${b}_mf_$tag").contains(member))
          Some((b, tag))
        else None
      }
    }
  }

  /** Operational file-count pressure of a stored bucketed index —
    * the number that says WHEN to run [[compactIndex]], completing
    * the maintenance triad (file pressure here; quantizer drift via
    * PqIndex/IvfIndex.quantizationError says when to `refresh`).
    * Append-only maintenance adds one file per bucket per batch, so
    * probes open `filesPerBucket`× the minimum file count; the plan
    * stays bucketed and exchange-free regardless, which is exactly
    * why the degradation is invisible in `explain` and needs a
    * metadata gauge. Pure driver-side metadata (catalog + one
    * directory listing) — no job, safe to poll.
    */
  final case class IndexFileHealth(buckets: Int, files: Long,
      siblingFiles: Long = 0L) {
    def filesPerBucket: Double =
      if (buckets == 0) 0.0 else files.toDouble / buckets
    /** True once probes pay more than `threshold` opens per bucket —
      * the compaction trigger a maintenance loop polls. */
    def needsCompaction(threshold: Double = 4.0): Boolean =
      filesPerBucket > threshold
    /** Small-table pressure (r14, VERDICT item 5): every delete /
      * upsert call appends one coalesced file to the `_del` sibling,
      * so a delete-heavy cadence accumulates a file per call that the
      * bucketed-member gauge never saw. True once the family's small
      * siblings (`_del`, `_cfg`) carry more
      * than `maxFiles` between them — the [[compactTombstones]] /
      * [[vacuumIndex]] trigger. */
    def needsSiblingCompaction(maxFiles: Long = 16L): Boolean =
      siblingFiles > maxFiles
  }

  /** Data-file count of one table's location — the shared listing
    * behind the member and sibling gauges (metadata only, no job). */
  private def tableFileCount(s: org.apache.spark.sql.SparkSession,
      table: String): Long = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    if (!s.catalog.tableExists(table)) 0L
    else {
      val meta = s.sessionState.catalog
        .getTableMetadata(TableIdentifier(table))
      val loc = new org.apache.hadoop.fs.Path(meta.location)
      val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(loc)) 0L
      else fs.listStatus(loc).count { st =>
        st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith(".")
      }.toLong
    }
  }

  /** The family's small-table sibling suffixes the gauge watches —
    * the tables delete/upsert/config traffic lands in. */
  private[graft] val HealthSiblings: Seq[String] =
    Seq("_del", "_cfg")

  def indexFileHealth(s: org.apache.spark.sql.SparkSession,
      table: String): IndexFileHealth = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val meta = s.sessionState.catalog
      .getTableMetadata(TableIdentifier(table))
    val buckets = meta.bucketSpec.map(_.numBuckets).getOrElse(0)
    IndexFileHealth(buckets, tableFileCount(s, table),
      HealthSiblings.map(sf => tableFileCount(s, table + sf)).sum)
  }

  /** One structured operational snapshot of an index family — the
    * observability half of [[maintainIndex]] (maintain PAYS the debt,
    * describe SHOWS it without mutating anything): per-member file
    * health, the tombstone list's row and file debt split into
    * terminal deletes vs finite upsert barriers (plus the current top
    * barrier — 0 means no upsert ever ran), the family's config
    * (`_cfg` pins or quantizer shape) and the corpus stats when the
    * family derives them (BM25's n_docs, sum_dl). Quantizer drift is
    * [[IndexFamily.maintain]]'s to gauge, not describe's.
    */
  final case class IndexStatus(
      members: Seq[(String, IndexFileHealth)],
      delRows: Long, delFiles: Long, terminalDeletes: Long,
      topBarrier: Long, cfg: Map[String, Int],
      stats: Map[String, Long], holds: Long = 0L,
      /** `base/tag` manifest snapshots currently pinning live files
        * of this family's members — the tags a fold would orphan
        * (r17). Surfaced so the operator sees the conflict in
        * `describe`/`due` BEFORE the fold refuses (or anchors). */
      pinnedSnapshots: Seq[String] = Nil,
      /** `base/tag` ephemeral epoch pins whose owning pid is dead or
        * whose TTL expired (r18) — debris a crash left that
        * [[sweepLeakedEpochs]] reclaims (folds also self-heal them
        * in guardFold). Named here so the cadence check sees the
        * leak before the next fold does. */
      leakedEpochs: Seq[String] = Nil) {
    /** The ops ONE [[maintainIndex]] pass would run right now under
      * `policy` — advisory, not a contract: maintain re-gauges
      * between its steps (a vacuum resets the member file pressure
      * before the member leg reads it), so the list maintain actually
      * executes can be SHORTER than this one, never longer. */
    def due(policy: MaintenancePolicy = MaintenancePolicy())
        : Seq[String] = {
      val b = scala.collection.mutable.ListBuffer.empty[String]
      if (delRows > policy.delRowsMax) b += "vacuum"
      else if (delFiles > policy.delFilesMax) b += "compact-tombstones"
      members.foreach { case (m, h) =>
        if (h.needsCompaction(policy.filesPerBucketMax))
          b += s"compact:$m"
      }
      // fold-aware snapshots (r17): when any due op is a fold AND
      // live manifest tags pin this family's files, say so HERE —
      // the operator learns the conflict from the cadence check, not
      // from the fold's refusal
      if (b.nonEmpty && pinnedSnapshots.nonEmpty)
        b += s"fold-orphans-snapshots:${pinnedSnapshots.mkString(",")}"
      // leaked ephemeral epochs (r18): ALWAYS named, fold due or not —
      // a dead process's pin accrues anchor bytes on every unattended
      // Anchor fold and would wedge the next Refuse fold
      if (leakedEpochs.nonEmpty)
        b += s"sweep-leaked-epochs:${leakedEpochs.mkString(",")}"
      b.toList
    }
    def healthy(policy: MaintenancePolicy = MaintenancePolicy())
        : Boolean = due(policy).isEmpty
  }

  /** Build an [[IndexStatus]] for a family: driver-side metadata plus
    * ONE O(|list|) aggregation over the small tombstone table. `cfg`
    * and `stats` are the family's config and corpus stats as
    * [[IndexFamily]] reads them.
    */
  private[graft] def describeIndex(s: org.apache.spark.sql.SparkSession,
      members: Seq[String], delTable: String, cfg: Map[String, Int],
      stats: Map[String, Long]): IndexStatus = {
    val mh = members.filter(s.catalog.tableExists)
      .map(m => m -> indexFileHealth(s, m))
    val (rows, term, top) =
      if (!s.catalog.tableExists(delTable)) (0L, 0L, 0L)
      else {
        val r = s.table(delTable)
          .agg(count(lit(1)),
            coalesce(sum(when(col("gen") === lit(TerminalGen), 1L)
              .otherwise(0L)), lit(0L)),
            coalesce(max(when(col("gen") =!= lit(TerminalGen),
              col("gen"))), lit(0L)))
          .collect()(0)
        (r.getLong(0), r.getLong(1), r.getLong(2))
      }
    // the legal-hold sibling rides the same `<family>_` base as the
    // tombstone list (r15, VERDICT item 4)
    val holdT = delTable.stripSuffix("_del") + "_hold"
    val holds =
      if (s.catalog.tableExists(holdT)) s.table(holdT).count() else 0L
    // manifest tags pinning live files of members a fold rewrites
    // (or of the tombstone list a vacuum drops) — O(metadata)
    val pinned = (members :+ delTable).distinct
      .filter(s.catalog.tableExists)
      .flatMap(snapshotOrphans(s, _))
      .map { case (b, t) => s"$b/$t" }.distinct.sorted
    // leaked ephemeral epoch pins of this family's bases (r18): ALL
    // of them, pinning or not — a fully-anchored leaked epoch holds
    // anchor bytes even though no fold would newly orphan it
    val bases = (members :+ delTable).flatMap { m =>
      m +: SnapshotManifestSiblings.collect {
        case suf if m.endsWith(suf) => m.stripSuffix(suf)
      }
    }.distinct
    val leaked = bases.flatMap { b =>
      listSnapshots(s, b).collect {
        case (tag, mtime) if isLeakedEpoch(s, tag, mtime) => s"$b/$tag"
      }
    }.distinct.sorted
    IndexStatus(mh, rows, tableFileCount(s, delTable), term, top, cfg,
      stats, holds, pinned, leaked)
  }

  /** The incremental BM25 family's lifecycle ([[IndexFamily]]): the
    * token-bucketed postings and the doc-id-bucketed `<table>_docs`
    * member (doc_id, dl, gen), both written by [[bm25Encoder]] from one
    * tokenize pass. The corpus stats are not stored: [[bm25Stats]]
    * derives (n_docs, sum_dl) from the live `_docs` rows at read time,
    * as the probe derives df from the postings, so a delete or upsert
    * is the plain tombstone every family uses. The invariant (fsck)
    * is that the live `_docs` rows equal the live postings' distinct
    * (doc_id, dl, gen) — a crash between the two member writes breaks
    * it — and repair rewrites `_docs` from the stored postings. */
  def bm25Family(table: String): IndexFamily = {
    val docsT = table + "_docs"
    val cols = Seq("doc_id", "dl", "gen").map(col)
    new IndexFamily(table,
      members = Seq(table, docsT), idCol = "doc_id", callerIdCol = "doc_id",
      statsOf = s =>
        if (!s.catalog.tableExists(docsT)) Map.empty
        else {
          val r = bm25Stats(exceptTombstones(s.table(docsT), s,
            table + "_del", "doc_id")).collect()(0)
          Map("n_docs" -> r.getLong(0), "sum_dl" -> r.getLong(1))
        },
      invariant = (s, live) => {
        val want = live(table).select(cols: _*).distinct()
        val got =
          if (s.catalog.tableExists(docsT))
            live(docsT).select(cols: _*).distinct()
          else want.limit(0)
        val off = want.except(got).union(got.except(want)).count()
        if (off == 0L) Nil
        else Seq(s"stats drift: $off (doc_id, dl, gen) rows of $docsT " +
          "differ from the live postings")
      },
      heals = Seq(IndexFamily.Heal(_.contains("stats drift"),
        "recomputed stats: rewrote the docs member from the postings",
        s => {
          val n = s.sessionState.catalog.getTableMetadata(
              org.apache.spark.sql.catalyst.TableIdentifier(table))
            .bucketSpec.map(_.numBuckets).getOrElse(8)
          s.sql(s"DROP TABLE IF EXISTS $docsT")
          clearOrphanLocation(s, docsT)
          s.table(table).select(cols: _*).distinct().write
            .bucketBy(n, "doc_id").sortBy("doc_id").saveAsTable(docsT)
        })))
  }

  /** (n_docs, sum_dl) over a BM25 family's live `_docs` rows, as the
    * 1-row frame [[bm25ScoreIncr]] takes: the distinct (doc_id, dl)
    * pairs counted and summed. */
  private def bm25Stats(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs.select("doc_id", "dl").distinct()
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum("dl"), lit(0L)).as("sum_dl"))

  /** A band index family's lifecycle ([[IndexFamily]]): (band_key,
    * old_id, old_toks) postings, addressed by `doc_id` — the public
    * documents-side id name, stored as old_id. Band families keep no
    * corpus stats and no config pin (the slot-prefixed band keys are
    * self-describing), so one live generation per id is the one
    * invariant to recompute and the re-barrier the one heal. */
  def bandFamily(table: String): IndexFamily = new IndexFamily(table,
    members = Seq(table), idCol = "old_id", callerIdCol = "doc_id")

  /** One live generation per id — the supersession invariant every
    * gen-barrier family shares ([[IndexFamily.fsck]]). */
  private[graft] def multiGenViolations(
      live: org.apache.spark.sql.DataFrame,
      idCol: String): Seq[String] =
    if (!live.columns.contains("gen")) Nil
    else live.groupBy(idCol)
      .agg(countDistinct(col("gen")).as("gens"))
      .filter(col("gens") > 1).limit(5).collect()
      .map(r => s"$idCol ${r.get(0)} has ${r.getLong(1)} live " +
        "generations (a barrier failed to supersede)")
      .toSeq

  /** Crashed-swap evidence across a family's swap-promoted members:
    * a member unbound while its `_compact`/`_old` twin holds the
    * content (a [[swapIndexTables]] that died between renames), a
    * leftover `_old` backup (died before cleanup), or a pinned
    * group-swap intent marker (a [[swapIndexTableGroup]] that died
    * mid-promotion). These states previously hid behind fsck's
    * family-does-not-exist early return — a crashed swap read as
    * HEALTHY while every probe failed, and repair had nothing to
    * heal (r16). `members.head` is the family base (the group-swap
    * marker's name). Callers return these ALONE when nonempty:
    * content audits against a half-swapped family are meaningless,
    * and a coexisting unhealable-looking symptom ("quantizer
    * missing" for a mid-swap `_cent`) would make repair refuse the
    * very state its swap heal fixes. */
  private[graft] def swapCrashViolations(
      s: org.apache.spark.sql.SparkSession,
      members: Seq[String]): Seq[String] = {
    val group =
      if (s.catalog.tableExists(members.head + "_swap"))
        Seq(s"crashed swap: intent marker ${members.head}_swap " +
          "still pinned (a group refresh died mid-promotion)")
      else Nil
    group ++ members.flatMap { m =>
      val hasT = s.catalog.tableExists(m)
      val hasTmp = s.catalog.tableExists(m + "_compact")
      val hasOld = s.catalog.tableExists(m + "_old")
      if (!hasT && (hasTmp || hasOld))
        Some(s"crashed swap: $m unbound (content survives in " +
          (if (hasTmp) s"${m}_compact" else s"${m}_old") + ")")
      else if (hasT && hasOld)
        Some(s"crashed swap: leftover backup ${m}_old")
      else None
    }
  }

  /** The crashed-swap heal: group-marker replay FIRST (per-member
    * recovery alone would promote a phase-1-crashed refresh into a
    * MIXED family — the memoIndex ordering), then per-member rename
    * recovery. Idempotent catalog ops; `members.head` is the family
    * base. */
  private[graft] def healCrashedSwaps(
      s: org.apache.spark.sql.SparkSession,
      members: Seq[String]): Unit = {
    recoverGroupSwap(s, members.head)
    members.foreach(recoverSwap(s, _))
  }

  /** SUPERSESSION HEAL: every id holding more than one live
    * generation across `members` gets a fresh barrier entry at its
    * TOP live generation — the newest content survives (exactly the
    * upsert contract the lost barrier was supposed to enforce), every
    * older generation dies. Distributed: only the distinct top-gen
    * values (the generation counter's range — small by construction)
    * reach the driver, never the violating ids themselves; each
    * barrier append is one [[tombstone]] call (idempotent (id, gen)
    * dedup). A later [[vacuumIndex]] folds the superseded rows
    * physically; probes are already clean without it.
    */
  private[graft] def rebarrierMultiGen(
      s: org.apache.spark.sql.SparkSession, members: Seq[String],
      delTable: String, idCol: String): Unit = withBuildLock(s) {
    val frames = members.filter(s.catalog.tableExists).map { m =>
      val df = exceptTombstones(s.table(m), s, delTable, idCol)
      val g = if (df.columns.contains("gen")) col("gen") else lit(0L)
      df.select(col(idCol), g.as("gen"))
    }
    if (frames.nonEmpty) {
      val bad = frames.reduce(_ unionByName _)
        .groupBy(idCol)
        .agg(countDistinct(col("gen")).as("gens"),
          max(col("gen")).as("mg"))
        .filter(col("gens") > 1)
        .persist()
      try {
        val gens = bad.select("mg").distinct().collect()
          .map(_.getLong(0))
        gens.foreach { g =>
          tombstone(s, delTable,
            bad.filter(col("mg") === g).select(idCol), idCol, gen = g)
        }
      } finally { bad.unpersist(); () }
    }
  }

  /** Rewrite a tombstone list to ONE file (entries deduped on
    * (id, gen)) — the cheap O(|list|) answer to delete-call file
    * accumulation, for the cadence where a full [[vacuumIndex]]
    * (O(index) member rewrites) isn't yet warranted. Promoted through
    * the same `_compact`/swap/heal dance as the bucketed members.
    */
  def compactTombstones(s: org.apache.spark.sql.SparkSession,
      delTable: String, guard: FoldGuard = FoldGuard.Refuse): Unit =
      withBuildLock(s) {
    if (s.catalog.tableExists(delTable)) {
      recoverSwap(s, delTable)
      guardFold(s, s"compactTombstones of $delTable", Seq(delTable),
        guard)
      val tmp = delTable + "_compact"
      s.sql(s"DROP TABLE IF EXISTS $tmp")
      clearOrphanLocation(s, tmp)
      import org.apache.spark.sql.catalyst.TableIdentifier
      val loc = s.sessionState.catalog
        .getTableMetadata(TableIdentifier(delTable)).location.toString
      s.read.parquet(loc).distinct().coalesce(1)
        .write.saveAsTable(tmp)
      swapIndexTables(s, delTable, tmp)
    }
  }

  /** The maintenance policy (r14, VERDICT item 4) — the thresholds
    * one [[maintainIndex]] pass composes the existing gauges under:
    *   - `filesPerBucketMax` → [[compactIndex]] each bucketed member
    *     whose [[indexFileHealth]] exceeds it;
    *   - `delRowsMax` → [[vacuumIndex]] the family once the tombstone
    *     list holds more entries than probes should keep anti-joining
    *     (vacuum also resets the per-member file pressure for free);
    *   - `delFilesMax` → [[compactTombstones]] when the LIST's file
    *     count (one per delete/upsert call) outgrows it but its row
    *     count doesn't yet warrant the O(index) vacuum;
    *   - `driftMax` → the family's `refresh` once its quantization
    *     error gauge exceeds it (frozen-quantizer families only).
    */
  final case class MaintenancePolicy(
      filesPerBucketMax: Double = 4.0,
      delFilesMax: Long = 16L,
      delRowsMax: Long = 1024L,
      driftMax: Double = 0.25)

  /** ONE idempotent maintenance pass for an index family: poll every
    * gauge, run exactly the ops whose thresholds trip, return their
    * names (empty = healthy, nothing ran — gated in MaintainSpec).
    * Vacuum subsumes member compaction (its rewrite IS the compacted
    * layout), which the gauge ordering expresses naturally: members
    * re-gauge after the tombstone step, so a vacuumed member reads
    * healthy. `drift`/`refresh` are the family's quantizer gauges —
    * drift above the bound runs `refresh` when the caller supplied
    * one, else reports `refresh-due` so an operator (or the spec) can
    * see the debt without the corpus frame in hand. The whole pass
    * holds the build lock once.
    */
  private[graft] def maintainIndex(s: org.apache.spark.sql.SparkSession,
      members: Seq[String], delTable: String, idCol: String,
      policy: MaintenancePolicy,
      drift: Option[() => Double] = None,
      refresh: Option[() => Unit] = None,
      guard: FoldGuard = FoldGuard.Refuse): Seq[String] =
    withBuildLock(s) {
      val ran = scala.collection.mutable.ListBuffer.empty[String]
      if (s.catalog.tableExists(delTable)) {
        if (s.table(delTable).count() > policy.delRowsMax) {
          vacuumIndex(s, delTable, members, idCol, guard)
          ran += "vacuum"
        } else if (tableFileCount(s, delTable) > policy.delFilesMax) {
          compactTombstones(s, delTable, guard)
          ran += "compact-tombstones"
        }
      }
      members.filter(s.catalog.tableExists).foreach { m =>
        if (indexFileHealth(s, m)
            .needsCompaction(policy.filesPerBucketMax)) {
          compactIndex(s, m, guard)
          ran += s"compact:$m"
        }
      }
      drift.foreach { d =>
        if (d() > policy.driftMax) refresh match {
          case Some(f) => f(); ran += "refresh"
          case None => ran += "refresh-due"
        }
      }
      ran.toList
    }

  /** Promote a fully-written replacement table `tmp` to `table` with an
    * `_old` backup — the maintenance-swap primitive compaction and any
    * retrain-and-swap op (PqIndex.refresh) share. The naive
    * DROP→RENAME left a window where a crash stranded the ONLY copy
    * under the tmp name and forced a rebuild (VERDICT r12 #3/#4);
    * here the previous copy is renamed OUT to `<table>_old` before the
    * new one is renamed IN, so at every instant at least one complete,
    * catalog-registered copy exists and [[recoverSwap]] can restore
    * the binding after a crash at any step. Callers must hold
    * [[bm25BuildLock]] (all current callers do) so in-process
    * builders/memo consumers never observe the mid-swap states.
    */
  private[graft] def swapIndexTables(s: org.apache.spark.sql.SparkSession,
      table: String, tmp: String): Unit = {
    val old = table + "_old"
    s.sql(s"DROP TABLE IF EXISTS $old")
    clearOrphanLocation(s, old)
    s.sql(s"ALTER TABLE $table RENAME TO $old")
    s.sql(s"ALTER TABLE $tmp RENAME TO $table")
    s.sql(s"DROP TABLE $old")
    s.catalog.refreshTable(table)
  }

  /** Sibling suffixes a BACKUP covers — a SUPERSET across all stored
    * families (absent members are simply skipped), so ONE generic
    * backup/restore pair serves BM25, band, ANN, IVF, PQ, BQ and SQ
    * alike. Deliberately NOT here:
    *   - `_hold` — the legal-hold registry is append-only FOREVER;
    *     a restore must never roll a hold back (held content would
    *     re-enter through the next ingest), so backup skips it and
    *     restore leaves it untouched;
    *   - `_ledger`/`_ck` — stream replay state; a restore rewinds
    *     INDEX content, not delivery history. After restoring a
    *     stream-fed family, re-deliver the lost batches (the
    *     member-loss protocol) or reset the stream's ledger.
    */
  private[graft] val BackupSiblings: Seq[String] =
    Seq("_vec", "_docs", "_cent", "_cb", "_cfg", "_del")

  /** Bucketing-preserving table copy: definition via CREATE TABLE
    * LIKE (provider + bucket spec ride along), rows via a raw DATA
    * FILE copy into the fresh definition's location — the
    * [[importIndex]] mechanism. The file names carry Spark's
    * bucket-id prefixes, so the copy probes with the same
    * zero-Exchange plans as the original, and the copy itself is
    * O(bytes) with NO job, no shuffle, no rewrite (r17 — the former
    * INSERT SELECT was a full bucketed rewrite per member: correct,
    * but at 100 TB a backup that re-shuffles the corpus is a
    * rebuild). Name preservation is also what makes DIFFERENTIAL
    * backups possible: a copy's (name, len) file identity now equals
    * the live member's, so a later backup can diff against a
    * committed base manifest. */
  private def copyTable(s: org.apache.spark.sql.SparkSession,
      src: String, dst: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $dst")
    clearOrphanLocation(s, dst)
    s.sql(s"CREATE TABLE $dst LIKE $src")
    copyDataFiles(s, tableLocation(s, src), tableLocation(s, dst),
      listDataFiles(s, src).map(_._1))
    s.catalog.refreshTable(dst)
  }

  /** Copy `relPaths` data files from under `srcLoc` to the same
    * relative names under `dstLoc` (parents created as needed).
    * Returns each file's md5 (hex), digested WHILE copying — the
    * backup take records content identity for free (one read, which
    * the copy pays anyway); callers that only move bytes ignore the
    * result.
    *
    * Scale dispatch: a handful of files copies driver-side (no job
    * overhead for the per-batch/meta copies); past
    * [[DistributedCopyThreshold]] files the copy fans out as ONE
    * Spark job, each task streaming its files src→dst — at 100 TB a
    * backup take is a bulk byte move and must parallelize like one
    * (the distcp shape). Semantics identical either way: file-level
    * copies, idempotent re-run, marker commits after. */
  private[graft] val DistributedCopyThreshold = 16

  private[graft] def copyDataFiles(s: org.apache.spark.sql.SparkSession,
      srcLoc: org.apache.hadoop.fs.Path,
      dstLoc: org.apache.hadoop.fs.Path,
      relPaths: Seq[String]): Map[String, String] = {
    val conf = s.sparkContext.hadoopConfiguration
    val dfs = dstLoc.getFileSystem(conf)
    dfs.mkdirs(dstLoc)
    if (relPaths.size <= DistributedCopyThreshold) {
      val sfs = srcLoc.getFileSystem(conf)
      relPaths.map(p =>
        p -> copyOne(sfs, dfs, srcLoc, dstLoc, p)).toMap
    } else {
      val confKv = hadoopConfKv(conf)
      val (src, dst) = (srcLoc.toString, dstLoc.toString)
      val n = math.max(1, math.min(relPaths.size,
        s.sparkContext.defaultParallelism * 2))
      s.sparkContext.parallelize(relPaths.distinct, n)
        .mapPartitions { it =>
          val c = rebuildHadoopConf(confKv)
          val sp = new org.apache.hadoop.fs.Path(src)
          val dp = new org.apache.hadoop.fs.Path(dst)
          val sf = sp.getFileSystem(c)
          val df = dp.getFileSystem(c)
          it.map(p => p -> copyOne(sf, df, sp, dp, p))
        }.collect().toMap
    }
  }

  /** Stream one file src→dst through MD5; returns the hex digest.
    * Runs on the driver or inside a copy task — no session state. */
  private def copyOne(sfs: org.apache.hadoop.fs.FileSystem,
      dfs: org.apache.hadoop.fs.FileSystem,
      srcLoc: org.apache.hadoop.fs.Path,
      dstLoc: org.apache.hadoop.fs.Path, p: String): String = {
    val dst = new org.apache.hadoop.fs.Path(dstLoc, p)
    val parent = dst.getParent
    if (parent != null) { dfs.mkdirs(parent); () }
    val in = sfs.open(new org.apache.hadoop.fs.Path(srcLoc, p))
    try {
      val out = dfs.create(dst, true)
      try md5Stream(in, out.write(_, 0, _)) finally out.close()
    } finally in.close()
  }

  /** The one MD5 stream loop: digest `in` in 128 KiB chunks at
    * constant memory (never loading a file whole), handing each chunk
    * to `sink` as well; returns the hex digest. Does not close `in`. */
  private def md5Stream(in: java.io.InputStream,
      sink: (Array[Byte], Int) => Unit): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](131072)
    var n = in.read(buf)
    while (n >= 0) {
      if (n > 0) { md.update(buf, 0, n); sink(buf, n) }
      n = in.read(buf)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** md5 (hex) of `rel` under `root`, read through `conf`'s
    * filesystem. */
  private def md5File(conf: org.apache.hadoop.conf.Configuration,
      root: org.apache.hadoop.fs.Path, rel: String): String = {
    val in = root.getFileSystem(conf)
      .open(new org.apache.hadoop.fs.Path(root, rel))
    try md5Stream(in, (_, _) => ()) finally in.close()
  }

  /** md5 (hex) of one data file under a table location — the deep
    * audit's re-hash. O(file bytes): opt-in paths only, never the
    * O(metadata) verbs. */
  private[graft] def hashDataFile(s: org.apache.spark.sql.SparkSession,
      loc: org.apache.hadoop.fs.Path, relPath: String): String =
    md5File(s.sparkContext.hadoopConfiguration, loc, relPath)

  /** The ship-a-Hadoop-conf-to-tasks idiom, ONE definition (late r18,
    * review #2: five hand-rolled copies had already drifted on the
    * source conf): serialize to a plain key-value array on the
    * driver, rebuild per partition. `SerializableConfiguration` is
    * spark-private, hence the array. */
  private[graft] def hadoopConfKv(
      conf: org.apache.hadoop.conf.Configuration)
      : Array[(String, String)] = {
    import scala.jdk.CollectionConverters._
    conf.iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
  }

  /** Task-side twin of [[hadoopConfKv]]. */
  private[graft] def rebuildHadoopConf(kv: Array[(String, String)])
      : org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    kv.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** DISTRIBUTED re-hash of (location, relPath) files — ONE Spark
    * job, each task streaming its files through [[md5Stream]]. The
    * deep audits route all their verification reads through here: at
    * 100 TB a deep check re-reads every committed backup byte, and a
    * driver-side file-at-a-time loop would make the restore-day
    * confidence check itself take a day. The session's Hadoop conf
    * rides to the tasks through [[hadoopConfKv]] (the object-store
    * credentials and endpoints a real deployment's filesystems
    * need). Files are pre-checked for existence by the callers
    * (missing files are the SHALLOW pass's finding); a file that
    * disappears mid-audit surfaces as the task's IO error. */
  private def hashFilesDistributed(
      s: org.apache.spark.sql.SparkSession,
      files: Seq[(String, String)]): Map[(String, String), String] =
    if (files.isEmpty) Map.empty
    else {
      val confKv = hadoopConfKv(s.sparkContext.hadoopConfiguration)
      val n = math.max(1, math.min(files.size,
        s.sparkContext.defaultParallelism * 2))
      s.sparkContext.parallelize(files.distinct, n)
        .mapPartitions { it =>
          val conf = rebuildHadoopConf(confKv)
          it.map { case (loc, rel) => (loc, rel) ->
            md5File(conf, new org.apache.hadoop.fs.Path(loc), rel) }
        }
        .collect().toMap
    }

  /** Tag hygiene shared by EVERY backup/snapshot verb (ADVICE r16
    * #3): tags are interpolated into table names and raw SQL, so a
    * tag with underscores or quote characters would address
    * unintended tables (`a_bak_b` parses as member `a` under tag `b`
    * AND member `a_bak` under tag `b`) or fail opaquely mid-verb.
    * One guard at every entry point, not just the take-side. */
  private[graft] def requireTag(verb: String, tag: String): Unit =
    require(tag.matches("[A-Za-z0-9]+"),
      s"$verb: tag must be alphanumeric, got '$tag'")

  /** BACKUP an index family — the way OUT when [[repairIndex]]
    * refuses (lost config pins, wrong-width stored rows, a missing
    * payload member have no safe in-place heal; a snapshot does).
    * Copies the base table and every existing [[BackupSiblings]]
    * member to `<member>_bak_<tag>` under the build lock, so the
    * snapshot is point-in-time consistent against concurrent writers
    * in this or any other process. Copies preserve bucketing and are
    * raw file copies ([[copyTable]] — O(bytes), no job, no shuffle);
    * the family's `<table>_hold` registry is NOT part of the
    * snapshot by design (see [[BackupSiblings]]). Returns the backup
    * tables written.
    *
    * DIFFERENTIAL (r17): with `baseTag = Some(b)`, only files ABSENT
    * from tag `b`'s committed manifest are physically copied; the
    * rest are recorded in this tag's marker BY REFERENCE to the tag
    * whose copy holds the bytes. References are FLAT — a chained
    * differential records each borrowed file's physical tag
    * directly, so restore/check never walk intermediate markers.
    * Between maintenance folds members only append part-files, so a
    * daily differential copies one day of appends, not the corpus;
    * after a fold the file names all differ and the differential
    * degrades to a full copy — correct automatically, and the cue to
    * re-anchor. [[dropBackup]] refuses to drop a tag that live tags
    * borrow from ([[dependentBackups]]). */
  def backupIndex(s: org.apache.spark.sql.SparkSession, table: String,
      tag: String = "bak", baseTag: Option[String] = None)
      : Seq[String] = withBuildLock(s) {
    requireTag("backupIndex", tag)
    require(s.catalog.tableExists(table),
      s"backupIndex: no family base table $table")
    // resolve the base manifest BEFORE retiring this tag's marker: a
    // differential against a damaged or uncommitted base would
    // record references that can never restore
    val baseHeld
        : Map[String, Map[(String, Long), (String, Option[String])]] =
      baseTag match {
        case None => Map.empty
        case Some(b) =>
          requireTag("backupIndex(baseTag)", b)
          require(b != tag,
            "backupIndex: baseTag must differ from tag")
          require(s.catalog.tableExists(s"${table}_bakok_$b"),
            s"backupIndex: no committed base backup $table/$b to " +
              "diff against")
          val audit = checkBackup(s, table, b)
          require(audit.isEmpty,
            s"backupIndex: base backup $table/$b failed its " +
              s"integrity audit — ${audit.take(3).mkString("; ")} — " +
              "a differential against it would not restore")
          readBackupMarker(s, s"${table}_bakok_$b")
            .groupBy(_._1)
            .map { case (m, rows) =>
              // a borrowed file inherits the base row's content hash
              // too — the deep audit follows the bytes, not the tag
              m -> rows.collect { case (_, Some(p), l, src, sha) =>
                (p, l) -> (src.getOrElse(b), sha) }.toMap
            }
      }
    // retire the commit marker FIRST: from here until the last copy
    // lands the set is officially incomplete, so a crash mid-set (or
    // mid-RE-TAKE, where fresh copies mix with a previous tag's) can
    // never leave a marker over copies it does not describe —
    // restoreIndex refuses marker-less sets instead of restoring a
    // mixed family (r16; the r15 "base copy is the marker" convention
    // was false under exactly that crash: the base is copied first)
    val marker = s"${table}_bakok_$tag"
    s.sql(s"DROP TABLE IF EXISTS $marker")
    clearOrphanLocation(s, marker)
    val results = (table +: BackupSiblings.map(table + _))
      .flatMap { m =>
        val held = baseTag.map(b => baseHeld.getOrElse(
            s"${m}_bak_$b",
            Map.empty[(String, Long), (String, Option[String])]))
          .getOrElse(
            Map.empty[(String, Long), (String, Option[String])])
        backupMember(s, m, tag, held)
      }
    writeBackupMarker(s, marker, results.flatMap(_._2))
    results.map(_._1) :+ marker
  }

  /** Copy ONE member into a backup set: definition LIKE the live
    * member (bucket spec rides along), data files = the live files
    * NOT already held by the base manifest (`baseHeld` maps
    * (path, len) → the tag physically holding the bytes; empty for
    * a full backup). Returns (copy name, marker rows) — a borrowed
    * file's row records its physical tag. An absent member clears
    * any stale copy under the tag and records nothing. */
  private def backupMember(s: org.apache.spark.sql.SparkSession,
      m: String, tag: String,
      baseHeld: Map[(String, Long), (String, Option[String])])
      : Option[(String, Seq[(String, String, Long, String, String)])] = {
    val c = s"${m}_bak_$tag"
    if (!s.catalog.tableExists(m)) {
      s.sql(s"DROP TABLE IF EXISTS $c")
      clearOrphanLocation(s, c)
      None
    } else {
      val live = listDataFiles(s, m)
      s.sql(s"DROP TABLE IF EXISTS $c")
      clearOrphanLocation(s, c)
      s.sql(s"CREATE TABLE $c LIKE $m")
      val hashes = copyDataFiles(s, tableLocation(s, m),
        tableLocation(s, c),
        live.collect { case (p, l) if !baseHeld.contains((p, l)) => p })
      s.catalog.refreshTable(c)
      val rows =
        if (live.isEmpty)
          Seq((c, null: String, 0L, null: String, null: String))
        else live.map { case (p, l) =>
          baseHeld.get((p, l)) match {
            case Some((b, sha)) => (c, p, l, b, sha.orNull)
            case None => (c, p, l, null: String, hashes(p))
          }
        }
      Some((c, rows))
    }
  }

  /** Commit a backup set, LAST: one row per DATA FILE of each copy
    * written ((member, path, len, src); null-path sentinel for an
    * empty copy; `src` = the tag physically holding a borrowed
    * file's bytes, null for files in this tag's own copy), so the
    * marker doubles as the set's integrity manifest — [[checkBackup]]
    * re-lists and diffs (O(metadata)), catching a copy damaged AFTER
    * commit, and [[restoreIndex]] refuses pre-mutation instead of
    * silently restoring less than was backed up. */
  private def writeBackupMarker(s: org.apache.spark.sql.SparkSession,
      marker: String,
      rows: Seq[(String, String, Long, String, String)]): Unit = {
    val sp = s
    import sp.implicits._
    rows.toDF("member", "path", "len", "src", "sha").coalesce(1)
      .write.mode("overwrite").saveAsTable(marker)
  }

  /** The marker as a 5-column DataFrame (member, path, len, src,
    * sha); a null sha is a file with no recorded content hash, which
    * the deep audit names. The at-scale view (r18, VERDICT #5):
    * aggregate verbs (provenance, dependents, the storage gauge)
    * consume THIS and collect only bounded summaries, instead of
    * pulling one driver tuple per committed file. */
  private[graft] def markerFrame(s: org.apache.spark.sql.SparkSession,
      marker: String): org.apache.spark.sql.DataFrame =
    s.table(marker).select("member", "path", "len", "src", "sha")

  /** Marker rows back: (copy name, file path, len, physical tag for
    * a borrowed file — differential references r17, content md5 —
    * deep audit r17; None is named by the deep audit as unverifiable
    * rather than skipped). This is the ROW-LEVEL read — callers that
    * only aggregate go through [[markerFrame]] instead (r18). */
  private[graft] def readBackupMarker(
      s: org.apache.spark.sql.SparkSession, marker: String)
      : Seq[(String, Option[String], Long, Option[String],
        Option[String])] =
    markerFrame(s, marker).collect().toSeq.map { r =>
      (r.getString(0), Option(r.getString(1)), r.getLong(2),
        Option(r.getString(3)), Option(r.getString(4)))
    }

  /** READ-ONLY audit of a copy-based backup set: the marker must
    * exist, every copy it records must still exist WITH EXACTLY the
    * data files it committed with ((name, len) identity — the
    * manifest-snapshot convention), and no unrecorded copy may sit
    * under the tag (restore would resurrect it as a member). Cost:
    * one marker read and one listing per copy (a base copy is listed
    * only when a borrowed file is not in the own copy), all
    * O(metadata); `deep` adds one re-hash job. Nil = the set restores
    * as taken. */
  def checkBackup(s: org.apache.spark.sql.SparkSession, table: String,
      tag: String = "bak", deep: Boolean = false): Seq[String] = {
    requireTag("checkBackup", tag)
    val marker = s"${table}_bakok_$tag"
    if (!s.catalog.tableExists(marker))
      return Seq(
        if (s.catalog.tableExists(s"${table}_bak_$tag"))
          s"backup $table/$tag has copies but no commit marker " +
            "(crashed mid-set, or pre-r16) — re-take it"
        else s"no backup $table/$tag")
    // the ONE marker read: the shallow diff, the extras and the deep
    // gather all work from these rows, member by member in name order
    val recorded = readBackupMarker(s, marker).groupBy(_._1)
      .toSeq.sortBy(_._1)
    val listed = listedBy(s, locateTable(s))
    checkBackupFiles(tag, "commit marker", recorded, listed) ++
      unrecordedCopies("commit marker",
        (table +: BackupSiblings.map(table + _)).map(m => s"${m}_bak_$tag"),
        recorded.map(_._1).toSet, s.catalog.tableExists) ++
      (if (deep) checkBackupDeep(s, tag, recorded, listed) else Nil)
  }

  /** One audited marker row: (entry, file path, len, physical tag of
    * a borrowed file, content md5) — [[readBackupMarker]]'s shape; a
    * group marker's state-table and checkpoint rows take it with no
    * `src` (they borrow nothing). */
  private[graft] type MarkerRow =
    (String, Option[String], Long, Option[String], Option[String])

  /** An audited entry as it is now: its root and listing (relative
    * path → length); None when the entry is gone. */
  private[graft] type Listed =
    String => Option[(org.apache.hadoop.fs.Path, Map[String, Long])]

  /** The [[Listed]] view of the entries a `locate` finds (family
    * copies: [[locateTable]]; a group marker's state tables and
    * checkpoint trees: the group's own): each entry is located and
    * listed at most once, and the shallow and deep passes share that
    * listing. */
  private[graft] def listedBy(s: org.apache.spark.sql.SparkSession,
      locate: String => Option[org.apache.hadoop.fs.Path]): Listed = {
    val memo = scala.collection.mutable.Map
      .empty[String, Option[(org.apache.hadoop.fs.Path, Map[String, Long])]]
    e => memo.getOrElseUpdate(e,
      locate(e).map(loc => (loc, listFilesUnder(s, loc).toMap)))
  }

  /** The extras pass: a candidate copy under the tag that exists but
    * is not among the marker's `recorded` entries — restore would
    * resurrect it as a live member. `noun` names the marker. */
  private[graft] def unrecordedCopies(noun: String,
      candidates: Seq[String], recorded: Set[String],
      exists: String => Boolean): Seq[String] = {
    val rec = recorded.map(_.toLowerCase)
    candidates.filter(c => !rec(c.toLowerCase) && exists(c))
      .map(c => s"$c: copy exists but is not in the $noun (restore " +
        "would resurrect it as a member) — re-take the backup")
  }

  /** The shallow diff: each recorded entry's rows against its
    * listing. `noun` names the marker in the findings. */
  private[graft] def checkBackupFiles(tag: String, noun: String,
      recorded: Seq[(String, Seq[MarkerRow])],
      listed: Listed): Seq[String] =
    recorded.flatMap { case (m, rows) =>
      listed(m) match {
        case None => Seq(s"$m: recorded in the $noun but missing")
        case Some((_, now)) =>
          // files this tag physically owns audit against the copy's
          // own location; borrowed files (differential references)
          // audit against the base tag's copy that holds the bytes —
          // OR against this tag's own copy once [[promoteBackup]]
          // materialized them (a crash mid-promote stays green by
          // design: the bytes are restorable from either side)
          val own = rows.collect {
            case (_, Some(p), l, None, _) => (p, l) }.toSet
          val borrowed = rows.collect {
            case (_, Some(p), l, Some(b), _) => (p, l, b) }
          val borrowedSet =
            borrowed.map { case (p, l, _) => (p, l) }.toSet
          val lost = own.filterNot { case (p, l) => now.get(p).contains(l) }
            .toSeq.sorted.map { case (p, l) =>
              s"$m: committed file $p ($l bytes) lost or changed " +
                "since the backup"
            }
          val unrecorded = (now.toSet -- own -- borrowedSet).toSeq.sorted
            .map { case (p, _) =>
              s"$m: file $p not in the $noun (written into " +
                "the copy after commit?)"
            }
          val borrowProblems = borrowed
            .filterNot { case (p, l, _) => now.get(p).contains(l) }
            .groupBy(_._3).toSeq
            .sortBy(_._1).flatMap { case (b, fs3) =>
              val baseCopy =
                m.stripSuffix(s"_bak_$tag") + s"_bak_$b"
              listed(baseCopy) match {
                case None =>
                  Seq(s"$m: borrows ${fs3.size} file(s) from base " +
                    s"backup tag $b, but $baseCopy is missing (base " +
                    "dropped out-of-band?)")
                case Some((_, baseNow)) =>
                  fs3.sortBy(_._1).collect {
                    case (p, l, _) if !baseNow.get(p).contains(l) =>
                      s"$m: borrowed file $p ($l bytes) lost or " +
                        s"changed in base copy $baseCopy"
                  }
              }
            }
          lost ++ unrecorded ++ borrowProblems
      }
    }

  /** DEEP pass (opt-in, O(backup bytes) — the cadence check stays
    * O(metadata)): re-hash every recorded file at the copy that
    * physically holds it and compare to the take-time md5. This is
    * what (name, len) identity cannot see: same-length bit rot or
    * tamper inside a committed copy. A row without a hash is NAMED
    * as unverifiable — a silent skip would read as "verified".
    * Holders resolve on the driver from the listings; the bytes are
    * read by [[verifyPins]]' one re-hash job. */
  private[graft] def checkBackupDeep(s: org.apache.spark.sql.SparkSession,
      tag: String, recorded: Seq[(String, Seq[MarkerRow])],
      listed: Listed): Seq[String] =
    verifyPins(s, recorded.flatMap { case (m, rows) =>
      listed(m) match {
        case None => Nil // shallow reported it
        case Some((_, now)) =>
          val live = m.stripSuffix(s"_bak_$tag")
          rows.collect { case (_, Some(p), l, src, sha) =>
            (p, l, src, sha) }.sortBy(_._1).flatMap {
            case (p, _, _, None) =>
              Seq(Left(s"$m: $p has no recorded content hash " +
                "— deep audit cannot verify it; re-take the " +
                "backup"))
            case (p, l, src, Some(sha)) =>
              // resolve exactly like restore: the own copy when it
              // physically holds the file (full rows, or borrowed
              // rows a promote materialized), else the base copy
              val holder =
                if (src.isEmpty || now.get(p).contains(l)) m
                else s"${live}_bak_${src.get}"
              // a holder without the file (by path) is the shallow
              // pass's finding
              listed(holder).collect { case (loc, files)
                  if files.contains(p) =>
                Right(Pin(loc.toString, p, sha, found =>
                  s"$m: $p content mismatch in $holder (recorded md5 " +
                    s"$sha, found $found — bit rot or tamper at " +
                    "unchanged length); re-take the backup"))
              }.toSeq
          }
      }
    })

  /** One file a deep audit re-hashes: its root, relative path and
    * recorded md5, and the finding to name for the md5 found when
    * they differ. */
  private final case class Pin(loc: String, path: String, sha: String,
      mismatch: String => String)

  /** The deep audits' one re-hash-and-compare: findings already made
    * pass through; every pin is re-hashed by ONE
    * [[hashFilesDistributed]] job and named when its md5 differs. */
  private def verifyPins(s: org.apache.spark.sql.SparkSession,
      gathered: Seq[Either[String, Pin]]): Seq[String] = {
    val got = hashFilesDistributed(s,
      gathered.collect { case Right(p) => (p.loc, p.path) })
    gathered.flatMap {
      case Left(msg) => Seq(msg)
      case Right(p) =>
        val found = got((p.loc, p.path))
        if (found == p.sha) Nil else Seq(p.mismatch(found))
    }
  }

  /** Snapshot ONE standalone table (a replay ledger, the ingest hash
    * store) to `<table>_bak_<tag>` — the stream-level backup verbs
    * compose this with [[backupIndex]] for family members. No-op
    * (None) when the table does not exist, so absent-at-snapshot
    * members are recorded by their missing backup copy. */
  private[graft] def backupTable(s: org.apache.spark.sql.SparkSession,
      table: String, tag: String): Option[String] = {
    val b = s"${table}_bak_$tag"
    if (s.catalog.tableExists(table)) {
      copyTable(s, table, b)
      Some(b)
    } else {
      // clear any STALE copy from a previous backup under this tag:
      // the member is gone from the live family, so the re-taken
      // snapshot must record its absence, or a later restore would
      // resurrect it
      s.sql(s"DROP TABLE IF EXISTS $b")
      clearOrphanLocation(s, b)
      None
    }
  }

  /** Converge ONE table to its `<tag>` snapshot: overwrite from the
    * backup copy when one exists, DROP the live table when it has no
    * copy (it did not exist at snapshot time), no-op when neither
    * exists. The single-member primitive [[restoreIndex]] and the
    * stream-level restore verbs share. */
  private[graft] def restoreTable(s: org.apache.spark.sql.SparkSession,
      table: String, tag: String): Option[String] = {
    val b = s"${table}_bak_$tag"
    if (s.catalog.tableExists(b)) {
      copyTable(s, b, table)
      Some(s"restored $table")
    } else if (s.catalog.tableExists(table)) {
      s.sql(s"DROP TABLE $table")
      Some(s"dropped $table (absent at snapshot)")
    } else None
  }

  /** RESTORE an index family to its `<tag>` snapshot: every member
    * with a backup copy is overwritten from it; a live member with NO
    * backup copy is DROPPED (it did not exist at snapshot time) — so
    * the family converges to exactly the snapshot state. Refuses
    * loudly before mutating anything when the base table's backup is
    * missing (a restore without its snapshot would just drop the live
    * family). The backup itself is KEPT — restore is repeatable, and
    * a crash mid-restore (copies, not renames) converges by simply
    * re-running it. `<table>_hold` is never touched: holds placed
    * after the backup stay in force across the restore (the
    * append-only-forever registry contract). Returns what it did. */
  def restoreIndex(s: org.apache.spark.sql.SparkSession, table: String,
      tag: String = "bak", deep: Boolean = false): Seq[String] =
      withBuildLock(s) {
    requireTag("restoreIndex", tag)
    // the marker is the ONLY proof the set is whole (written last by
    // backupIndex): copies without it are a crashed backup — restoring
    // them would build a frankenstein family (fresh base over a
    // previous tag's siblings) with no error
    require(s.catalog.tableExists(s"${table}_bakok_$tag") ||
        !s.catalog.tableExists(s"${table}_bak_$tag"),
      s"restoreIndex: backup $table/$tag has copies but no commit " +
        "marker — the backup crashed mid-set (or predates the marker," +
        " r16); re-take it")
    require(s.catalog.tableExists(s"${table}_bak_$tag"),
      s"restoreIndex: no backup ${table}_bak_$tag — refusing to " +
        "touch the live family without its snapshot")
    // pre-mutation integrity audit (r16): the copies must still hold
    // exactly the files the marker committed — restoring a copy that
    // lost files would silently converge to LESS than the snapshot.
    // `deep` upgrades it to the content re-hash (r17): restore day
    // is exactly when same-length bit rot must not slip through
    val audit = checkBackup(s, table, tag, deep)
    require(audit.isEmpty,
      s"restoreIndex: backup $table/$tag failed its integrity " +
        s"audit — ${audit.take(5).mkString("; ")}" +
        (if (audit.size > 5) s" (+${audit.size - 5} more)" else "") +
        " — re-take the backup")
    // marker-aware restore (r17): the marker is the membership AND
    // file-set truth — a differential member's files resolve across
    // its own copy and the base copies holding its borrowed bytes
    // (all audited present above)
    val entries = readBackupMarker(s, s"${table}_bakok_$tag")
      .groupBy(_._1)
    (table +: BackupSiblings.map(table + _)).flatMap { m =>
      entries.get(s"${m}_bak_$tag") match {
        case Some(rows) =>
          restoreMemberFromMarker(s, m, tag, rows)
          Some(s"restored $m")
        case None =>
          if (s.catalog.tableExists(m)) {
            s.sql(s"DROP TABLE $m")
            Some(s"dropped $m (absent at snapshot)")
          } else None
      }
    }
  }

  /** RESTORE-AS — the drill / branch verb (r17): converge a FRESH
    * family `asTable` to the `<tag>` backup of `table`, with the
    * live family and the backup both untouched. Two operator asks in
    * one verb: the DISASTER DRILL ("prove this backup actually
    * restores, without a maintenance window" — checkBackup audits
    * metadata; this proves the bytes by building the family and
    * letting you probe it), and the BRANCH ("run the experiment
    * against last Tuesday's corpus" at full bucketed-serving speed,
    * where the as-of probes' plain-scan audit path isn't enough).
    * Same gates as [[restoreIndex]] (commit marker required, chain
    * integrity audited before any copy) and the same marker-routed
    * member convergence — borrowed differential bytes resolve from
    * their base-tag copies. The target family must not exist (a
    * drill must never clobber; drop it or pick a fresh name).
    * `<table>_hold` is NOT copied: the branch is an experiment
    * family, never the compliance copy. */
  def restoreIndexAs(s: org.apache.spark.sql.SparkSession,
      table: String, tag: String, asTable: String,
      deep: Boolean = false): Seq[String] =
    withBuildLock(s) {
      requireTag("restoreIndexAs", tag)
      require(asTable != table,
        "restoreIndexAs: asTable must differ from the live family " +
          "(use restoreIndex to converge in place)")
      require(s.catalog.tableExists(s"${table}_bakok_$tag"),
        s"restoreIndexAs: no committed backup $table/$tag (marker " +
          s"${table}_bakok_$tag absent) — nothing to drill")
      // a DRILL is restore-day practice — `deep` runs it with the
      // content re-hash the real restore day would want
      val audit = checkBackup(s, table, tag, deep)
      require(audit.isEmpty,
        s"restoreIndexAs: backup $table/$tag failed its integrity " +
          s"audit — ${audit.take(5).mkString("; ")}" +
          (if (audit.size > 5) s" (+${audit.size - 5} more)" else "") +
          " — re-take the backup")
      val clash = (asTable +: BackupSiblings.map(asTable + _))
        .filter(s.catalog.tableExists)
      require(clash.isEmpty,
        s"restoreIndexAs: target family exists (${clash.mkString(", ")
          }) — a drill never clobbers; drop it or pick a fresh name")
      val entries = readBackupMarker(s, s"${table}_bakok_$tag")
        .groupBy(_._1)
      ("" +: BackupSiblings).flatMap { suf =>
        entries.get(s"$table${suf}_bak_$tag").map { rows =>
          restoreMemberFromMarker(s, asTable + suf, tag, rows,
            from = table + suf)
          s"restored ${asTable + suf}"
        }
      }
    }

  /** Converge ONE member to its marker-recorded file set: definition
    * LIKE the tag's own copy (bucket spec rides along), then copy
    * each recorded file from the copy that physically holds it (own
    * copy for src-null rows, the base tag's copy for borrowed rows —
    * unless a [[promoteBackup]] already materialized the bytes into
    * the own copy, which then serves). Copies, not renames — a crash
    * mid-restore converges by re-running. `from` = the BACKED-UP
    * member whose tag copies serve the bytes; it defaults to `live`
    * (the in-place restore) and diverges only for [[restoreIndexAs]]
    * (restore into a scratch family). */
  private def restoreMemberFromMarker(
      s: org.apache.spark.sql.SparkSession, live: String, tag: String,
      rows: Seq[(String, Option[String], Long, Option[String],
        Option[String])],
      from: String = ""): Unit = {
    val srcMember = if (from.isEmpty) live else from
    val own = s"${srcMember}_bak_$tag"
    val ownNow = listDataFiles(s, own).toSet
    s.sql(s"DROP TABLE IF EXISTS $live")
    clearOrphanLocation(s, live)
    s.sql(s"CREATE TABLE $live LIKE $own")
    val dst = tableLocation(s, live)
    rows.collect { case (_, Some(p), l, src, _) => (p, l, src) }
      .groupBy { case (p, l, src) =>
        if (src.isEmpty || ownNow.contains((p, l))) None else src }
      .toSeq.sortBy(_._1)
      .foreach { case (src, ps) =>
        val holder = src match {
          case None => own
          case Some(b) => s"${srcMember}_bak_$b"
        }
        copyDataFiles(s, tableLocation(s, holder), dst, ps.map(_._1))
      }
    s.catalog.refreshTable(live)
  }

  /** Restore-byte PROVENANCE of a committed backup set: one row per
    * tag whose copies physically hold bytes this tag's restore would
    * read — (holding tag, file count, bytes), `tag` itself for the
    * set's own copies, sorted by bytes descending. O(metadata) — one
    * marker read, no file listings. The gauge for the promote-vs-
    * retake decision: [[promoteBackup]] copies exactly the bytes
    * listed under OTHER tags (backup-to-backup, the live family
    * untouched); re-taking a full backup copies the whole live
    * family and abandons this restore point. */
  def backupProvenance(s: org.apache.spark.sql.SparkSession,
      table: String, tag: String = "bak"): Seq[(String, Long, Long)] = {
    requireTag("backupProvenance", tag)
    val marker = s"${table}_bakok_$tag"
    require(s.catalog.tableExists(marker),
      s"backupProvenance: no committed backup $table/$tag")
    // one aggregation over the marker frame (r18, VERDICT #5): only
    // the per-tag summary rows — bounded by chain length — ever
    // reach the driver, whatever the file count
    markerFrame(s, marker).where(col("path").isNotNull)
      .groupBy(coalesce(col("src"), lit(tag)).as("holder"))
      .agg(count(lit(1)).as("files"), sum(col("len")).as("bytes"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(-_._3)
  }

  /** Committed tags whose markers borrow at least one file
    * physically held by `tag` — the tags [[dropBackup]] protects
    * `tag` for. O(#tags) existence probes over the marker frames
    * (r18: a LIMIT-1 filter per marker, never a full row collect). */
  def dependentBackups(s: org.apache.spark.sql.SparkSession,
      table: String, tag: String): Seq[String] =
    listBackups(s, table).filterNot(_ == tag).filter { other =>
      markerFrame(s, s"${table}_bakok_$other")
        .where(col("src") === tag)
        .limit(1).count() > 0
    }

  /** Drop a family's `<tag>` backup set — marker FIRST, so a crash
    * mid-drop leaves a set restore already refuses. REFUSES when
    * other committed tags borrow files from this one (differential
    * dependents, r17): dropping the base would strand their borrowed
    * bytes and turn restorable tags into audit failures — drop the
    * dependents first (or re-take them as full backups). */
  def dropBackup(s: org.apache.spark.sql.SparkSession, table: String,
      tag: String = "bak"): Unit = withBuildLock(s) {
    requireTag("dropBackup", tag)
    val deps = dependentBackups(s, table, tag)
    require(deps.isEmpty,
      s"dropBackup: backup $table/$tag is the differential base of " +
        s"live tag(s) ${deps.mkString(", ")} — dropping it would " +
        "strand their borrowed files; drop the dependents first")
    s.sql(s"DROP TABLE IF EXISTS ${table}_bakok_$tag")
    (table +: BackupSiblings.map(table + _))
      .foreach(m => s.sql(s"DROP TABLE IF EXISTS ${m}_bak_$tag"))
  }

  /** PROMOTE a differential backup to a self-contained full set: copy
    * every borrowed file's bytes from the base copy holding them into
    * this tag's own copy, then rewrite the commit marker with the
    * borrows cleared — after which [[dependentBackups]] no longer
    * lists this tag and its base becomes droppable ([[dropBackup]] /
    * the prune verbs stop protecting it). This is how a base tag
    * retires WITHOUT a fresh full backup of the live family: promote
    * the newest differential (reading backup bytes, never touching
    * the live members), drop the old base, anchor future
    * differentials on the promoted tag.
    *
    * CONVERGES under any crash: byte copies land first and are
    * idempotent (files already materialized are skipped; a half-
    * promoted set stays green under [[checkBackup]] and restorable —
    * borrowed bytes serve from either side), the marker rewrite
    * commits last. A crash during the marker rewrite itself leaves
    * marker-less copies, which every verb refuses as a crashed set
    * (re-take it). Refuses when a not-
    * yet-materialized borrowed file is gone from its base copy —
    * promote cannot invent bytes; restore what the base still serves
    * or re-take. No-op on a set with no borrows. Returns what it did
    * per member. */
  def promoteBackup(s: org.apache.spark.sql.SparkSession,
      table: String, tag: String = "bak"): Seq[String] =
      withBuildLock(s) {
    requireTag("promoteBackup", tag)
    val marker = s"${table}_bakok_$tag"
    require(s.catalog.tableExists(marker),
      s"promoteBackup: no committed backup $table/$tag" +
        (if (s.catalog.tableExists(s"${table}_bak_$tag"))
          " (copies exist but the marker is gone — re-take)"
        else ""))
    val entries = readBackupMarker(s, marker)
    val borrowedByMember = entries.groupBy(_._1).view
      .mapValues(_.collect { case (_, Some(p), l, Some(b), _) =>
        (p, l, b) })
      .filter(_._2.nonEmpty).toMap
    if (borrowedByMember.isEmpty)
      Seq(s"backup $table/$tag is already self-contained")
    else {
      // pending = borrowed files NOT yet materialized into the own
      // copy (a previous crashed promote may have copied some in)
      val pendingByMember = borrowedByMember.toSeq.sortBy(_._1)
        .map { case (m, bs) =>
          val ownNow = listDataFiles(s, m).toSet
          (m, bs, bs.filterNot { case (p, l, _) =>
            ownNow.contains((p, l)) })
        }
      // phase 1, VALIDATE before any byte moves: every pending file
      // must still sit in its base copy at the committed length
      val problems = pendingByMember.flatMap { case (m, _, pending) =>
        pending.groupBy(_._3).toSeq.sortBy(_._1).flatMap {
          case (b, fs3) =>
            val baseCopy = m.stripSuffix(s"_bak_$tag") + s"_bak_$b"
            if (!s.catalog.tableExists(baseCopy))
              Seq(s"$m: borrows ${fs3.size} file(s) from base tag " +
                s"$b, but $baseCopy is missing")
            else {
              val baseNow = listDataFiles(s, baseCopy).toSet
              fs3.sortBy(_._1).collect {
                case (p, l, _) if !baseNow.contains((p, l)) =>
                  s"$m: borrowed file $p ($l bytes) gone from " +
                    baseCopy
              }
            }
        }
      }
      require(problems.isEmpty,
        s"promoteBackup: cannot materialize $table/$tag — " +
          s"${problems.take(5).mkString("; ")}" +
          (if (problems.size > 5) s" (+${problems.size - 5} more)"
          else ""))
      // phase 2, MATERIALIZE: copy pending bytes base copy → own copy
      val notes = pendingByMember.map { case (m, bs, pending) =>
        val live = m.stripSuffix(s"_bak_$tag")
        val dst = tableLocation(s, m)
        pending.groupBy(_._3).toSeq.sortBy(_._1)
          .foreach { case (b, fs3) =>
            copyDataFiles(s, tableLocation(s, s"${live}_bak_$b"),
              dst, fs3.map(_._1))
          }
        s.catalog.refreshTable(m)
        s"$m: materialized ${pending.size} borrowed file(s)" +
          (if (bs.size > pending.size)
            s" (${bs.size - pending.size} already present)"
          else "")
      }
      // phase 3, COMMIT: the marker rewrite clears the borrows —
      // and ONLY the borrows: the content hashes ride along (the
      // bytes did not change, so neither may their recorded identity)
      writeBackupMarker(s, marker,
        entries.map { case (m, p, l, _, sha) =>
          (m, p.orNull, l, null: String, sha.orNull) })
      notes
    }
  }

  private[graft] def tableLocation(s: org.apache.spark.sql.SparkSession,
      t: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s.sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(t)).location)

  /** (relative path, length) of every file under `loc` —
    * hidden/metadata files (`_SUCCESS`, `.crc`, in-flight temps)
    * excluded. Part-file names carry write-UUIDs and stream-log
    * entries are write-once, so (name, length) identifies a file's
    * CONTENT for snapshot purposes: an append adds names, any
    * rewrite (compact, vacuum fold, rebuild) produces different
    * names. */
  private[graft] def listFilesUnder(s: org.apache.spark.sql.SparkSession,
      loc: org.apache.hadoop.fs.Path): Seq[(String, Long)] = {
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(loc)) Seq.empty
    else {
      def walk(p: org.apache.hadoop.fs.Path)
          : Seq[org.apache.hadoop.fs.FileStatus] =
        fs.listStatus(p).toSeq.flatMap(f =>
          if (f.isDirectory) walk(f.getPath) else Seq(f))
      val prefix = loc.toString
      walk(loc)
        .filterNot(f => f.getPath.getName.startsWith("_") ||
          f.getPath.getName.startsWith("."))
        .map(f => (f.getPath.toString.stripPrefix(prefix)
          .stripPrefix("/"), f.getLen))
    }
  }

  /** [[listFilesUnder]] a TABLE's location. */
  private[graft] def listDataFiles(s: org.apache.spark.sql.SparkSession,
      t: String): Seq[(String, Long)] =
    listFilesUnder(s, tableLocation(s, t))

  /** Read a manifest table back: entry name → (path, len) files.
    * Null-path sentinel rows (present-but-empty entries) collapse to
    * an entry with zero files — still IN the map, distinguishing
    * "empty at snapshot" from "absent at snapshot". */
  private[graft] def readManifest(s: org.apache.spark.sql.SparkSession,
      mf: String): Map[String, Seq[(String, Long)]] =
    s.table(mf).collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2)))
      .groupBy(_._1)
      .map { case (m, rs) =>
        m -> rs.toSeq.collect { case (_, Some(p), l) => (p, l) }
      }

  /** The one manifest WRITER — family snapshots ([[snapshotIndex]])
    * and a group's stream-state manifest (`StreamingOps.snapshot`):
    * lists each (entry, location) pair and commits one
    * `(member, path, len)` row per file to `mf`, plus a null-path row
    * for an entry that exists but holds no files ("empty at snapshot",
    * not "absent"). Returns the number of files recorded. */
  private[graft] def writeManifest(s: org.apache.spark.sql.SparkSession,
      mf: String, entries: Seq[(String, org.apache.hadoop.fs.Path)])
      : Int = {
    val rows = entries.flatMap { case (m, loc) =>
      val files = listFilesUnder(s, loc)
      if (files.isEmpty) Seq((m, null: String, 0L))
      else files.map { case (p, l) => (m, p, l) }
    }
    val sp = s
    import sp.implicits._
    rows.toDF("member", "path", "len").coalesce(1).write.saveAsTable(mf)
    rows.count(_._2 != null)
  }

  /** The one phase-1 VALIDATOR of every manifest verb — family and
    * group restores, [[checkSnapshot]] and the group check — made
    * fold-anchor-aware: a manifested file counts as present when the
    * entry's live location (`locate`) OR the tag's fold anchor
    * ([[anchorDir]]) serves it at the recorded length, and an entry
    * dropped by an anchored fold is fine as long as its files all
    * resolve (the restore recreates it from the anchor). An entry
    * empty at snapshot must still exist. Returns the violations;
    * empty = pruning can converge. Read-only. */
  private[graft] def manifestProblems(
      s: org.apache.spark.sql.SparkSession, tag: String,
      manifest: Map[String, Seq[(String, Long)]],
      locate: String => Option[org.apache.hadoop.fs.Path])
      : Seq[String] =
    manifest.toSeq.sortBy(_._1).flatMap { case (m, files) =>
      if (files.isEmpty) {
        if (locate(m).isDefined) Nil
        else Seq(s"$m: missing (dropped since snapshot)")
      } else resolveSnapshotFiles(s, m, tag, files, locate)
        .left.toSeq.flatten
    }

  /** Refuse a manifest restore whose phase-1 `problems` are nonempty,
    * naming the first five and the copy-based `fallback`. */
  private[graft] def requireConvergent(problems: Seq[String],
      fallback: String): Unit =
    require(problems.isEmpty,
      "restoreSnapshot: history was rewritten since the snapshot — " +
        s"${problems.take(5).mkString("; ")}" +
        (if (problems.size > 5) s" (+${problems.size - 5} more)"
        else "") +
        s" — file pruning cannot converge; use the copy-based $fallback")

  /** The one phase-2 PRUNER of every manifest restore, family and
    * group: converge each entry to exactly its manifested file set —
    * delete live files not in the manifest (post-snapshot appends),
    * copy anchored files back under their manifested names, and
    * recreate an entry a fold dropped (folds drop only PLAIN
    * manifest-class tables — tombstone lists — so a parquet table
    * with the anchor's schema is faithful); then refresh any table
    * over the entry. Callers validate FIRST with [[manifestProblems]]. */
  private[graft] def pruneToManifest(
      s: org.apache.spark.sql.SparkSession, tag: String,
      manifest: Map[String, Seq[(String, Long)]],
      locate: String => Option[org.apache.hadoop.fs.Path]): Seq[String] =
    manifest.toSeq.sortBy(_._1).map { case (m, files) =>
      val aDir = anchorDir(s, m, tag)
      locate(m) match {
        case None =>
          val schema = s.read.parquet(files.map(f =>
            new org.apache.hadoop.fs.Path(aDir, f._1).toString): _*)
            .schema
          s.catalog.createTable(m, "parquet", schema,
            Map.empty[String, String])
          copyDataFiles(s, aDir, tableLocation(s, m), files.map(_._1))
          s.catalog.refreshTable(m)
          s"recreated $m from the fold anchor (${files.size} files)"
        case Some(loc) =>
          val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
          val live = listFilesUnder(s, loc).toMap
          val keep = files.map(_._1).toSet
          val extras = live.keys.filterNot(keep).toSeq.sorted
          extras.foreach(p =>
            fs.delete(new org.apache.hadoop.fs.Path(loc, p), false))
          val fromAnchor = files.filter { case (p, l) =>
            !live.get(p).contains(l) }
          copyDataFiles(s, aDir, loc, fromAnchor.map(_._1))
          if (s.catalog.tableExists(m)) s.catalog.refreshTable(m)
          s"pruned $m: ${extras.size} post-snapshot files" +
            (if (fromAnchor.nonEmpty)
              s"; restored ${fromAnchor.size} from the fold anchor"
            else "")
      }
    }

  /** The table-entry `locate` every family-level manifest verb uses. */
  private[graft] def locateTable(s: org.apache.spark.sql.SparkSession)
      : String => Option[org.apache.hadoop.fs.Path] =
    m => if (s.catalog.tableExists(m)) Some(tableLocation(s, m))
    else None

  /** Member split for the MANIFEST snapshot: the payload-scale
    * members (postings/codes/payload base, `_vec`, BM25's `_docs`,
    * tombstone lists) only gain part-files between maintenance folds —
    * manifest them. The metadata members (`_cfg`, trained
    * `_cent`/`_cb`) are OVERWRITTEN in place, so a manifest over
    * them would refuse after every rewrite — they get copy-based
    * snapshots instead, which is O(1) by construction (they are tiny
    * BECAUSE they are the rewritten-in-place members: a table cheap
    * enough to rewrite per batch is cheap enough to copy per
    * snapshot). */
  private[graft] val SnapshotManifestSiblings: Seq[String] =
    Seq("_vec", "_docs", "_del")
  private[graft] val SnapshotCopySiblings: Seq[String] =
    Seq("_cfg", "_cent", "_cb")

  /** What a FOLD (compact / vacuum / retrain-rebuild) does about the
    * manifest snapshots its rewrite would orphan (r17, VERDICT #1).
    * A manifest snapshot pins live FILE NAMES; a fold rewrites them,
    * so every pinned tag silently stopped restoring — and until now
    * the refusal only fired at readSnapshot/restoreSnapshot time,
    * after the anchor window was gone. Folds now check FIRST. */
  sealed trait FoldGuard
  object FoldGuard {
    /** Default: REFUSE, naming the pinned tags — the operator
      * decides (anchor them, orphan them, or prune them). */
    case object Refuse extends FoldGuard
    /** Proceed knowingly; the pinned tags stop serving and
      * [[checkSnapshot]] names exactly them afterwards. */
    case object Orphan extends FoldGuard
    /** Copy each pinned tag's still-live manifested files into the
      * tag's fold ANCHOR first (O(pinned bytes), driver-side file
      * copy), then fold — [[readSnapshot]]/[[restoreSnapshot]]/
      * [[checkSnapshot]] resolve a manifested file from the live
      * location OR the anchor, so the snapshot keeps serving across
      * the fold. This converts the O(metadata) snapshot into a
      * copy-backed one for exactly the affected members — the
      * copy-backup-anchor cost, paid only when a fold actually
      * crosses a live restore point. */
    case object Anchor extends FoldGuard
  }

  /** Which tagged records a prune drops: the one policy behind every
    * retention verb — family and group snapshots and backups
    * ([[pruneSnapshots]], [[pruneBackups]], their
    * `graft.streaming.StreamingOps` group forms) and the admission
    * audit partitions (`StreamingOps.pruneAdmissionAudit`). Count and
    * age compose by running two prunes: keep at least N, and nothing
    * older than T. Refuses an invalid bound when built.
    */
  sealed trait Retention {
    /** The items of `newestFirst` to drop, in its order. `mtime` reads
      * an item's age clock (ms); only age policies call it, so a count
      * prune never pays for an age read. */
    def select[A](newestFirst: Seq[A])(mtime: A => Long): Seq[A]
  }
  object Retention {
    /** Keep the newest `n` (`n >= 1`), drop the rest. */
    final case class KeepNewest(n: Int) extends Retention {
      require(n >= 1, s"Retention.KeepNewest: n must be >= 1, got $n")
      def select[A](newestFirst: Seq[A])(mtime: A => Long): Seq[A] =
        newestFirst.drop(n)
    }
    /** Drop what is strictly older than `ms` (`ms >= 0`) at `nowMs`:
      * `mtime < nowMs - ms`. `nowMs` is settable for determinism. */
    final case class OlderThan(ms: Long,
        nowMs: Long = System.currentTimeMillis()) extends Retention {
      require(ms >= 0, s"Retention.OlderThan: ms must be >= 0, got $ms")
      def select[A](newestFirst: Seq[A])(mtime: A => Long): Seq[A] =
        newestFirst.filter(a => mtime(a) < nowMs - ms)
    }
  }

  /** The fold-anchor directory for one member under one snapshot
    * tag: `<warehouse>/<member>_mfanchor_<tag>`. Not a catalog
    * table — just the pinned data files at their manifested relative
    * names. Dropped with the snapshot ([[dropSnapshot]]). */
  private[graft] def anchorDir(s: org.apache.spark.sql.SparkSession,
      member: String, tag: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"),
      s"${member.toLowerCase}_mfanchor_$tag")

  /** Manifest-snapshot (family base, tag) pairs a rewrite or drop of
    * `member`'s data files would NEWLY orphan: every live manifest
    * recording `member` with at least one file still served from the
    * member's live location. Tags already fully anchored (or already
    * broken) are not newly orphaned. O(metadata). */
  private[graft] def snapshotOrphans(
      s: org.apache.spark.sql.SparkSession, member: String)
      : Seq[(String, String)] = {
    if (!s.catalog.tableExists(member)) return Nil
    val live = listFilesUnder(s, tableLocation(s, member)).toSet
    if (live.isEmpty) return Nil
    val bases = (member +: SnapshotManifestSiblings.collect {
      case suf if member.endsWith(suf) => member.stripSuffix(suf)
    }).distinct
    bases.flatMap { b =>
      listSnapshots(s, b).map(_._1).flatMap { tag =>
        val mf = s"${b}_mf_$tag"
        val files = readManifest(s, mf).getOrElse(member, Nil)
        if (files.exists(live.contains)) Some((b, tag)) else None
      }
    }
  }

  /** The anchor's content-hash sidecar (r17): `_sha` inside the
    * anchor dir, one `md5<space>relpath` line per anchored file —
    * underscore-prefixed, so every data-file listing skips it. An
    * anchor is often the ONLY copy of a pinned byte-set (the live
    * file was folded away), so it records the md5 the copy digested
    * for free, and checkSnapshot's deep pass verifies it. */
  private def anchorShaFile(aDir: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(aDir, "_sha")

  private def readAnchorShas(s: org.apache.spark.sql.SparkSession,
      aDir: org.apache.hadoop.fs.Path): Map[String, String] = {
    val p = anchorShaFile(aDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString finally in.close()
      txt.linesIterator.filter(_.nonEmpty).map { line =>
        val (sha, path) = line.splitAt(32)
        path.drop(1) -> sha
      }.toMap
    }
  }

  private def writeAnchorShas(s: org.apache.spark.sql.SparkSession,
      aDir: org.apache.hadoop.fs.Path,
      shas: Map[String, String]): Unit = {
    val p = anchorShaFile(aDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(shas.toSeq.sorted
      .map { case (path, sha) => s"$sha $path" }.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Copy `member`'s still-live manifested files for `(base, tag)`
    * into the member's fold anchor (files already anchored are
    * skipped — anchoring is idempotent and incremental across
    * repeated folds). Each copied file's md5 joins the anchor's
    * `_sha` sidecar. */
  private def anchorMemberFiles(s: org.apache.spark.sql.SparkSession,
      member: String, base: String, tag: String): Int = {
    val mf = s"${base}_mf_$tag"
    val files = readManifest(s, mf).getOrElse(member, Nil)
    if (files.isEmpty || !s.catalog.tableExists(member)) 0
    else {
      val liveLoc = tableLocation(s, member)
      val live = listFilesUnder(s, liveLoc).toSet
      val aDir = anchorDir(s, member, tag)
      val anchored = listFilesUnder(s, aDir).toSet
      val need = files.filter(f =>
        live.contains(f) && !anchored.contains(f))
      val hashes = copyDataFiles(s, liveLoc, aDir, need.map(_._1))
      if (hashes.nonEmpty)
        writeAnchorShas(s, aDir, readAnchorShas(s, aDir) ++ hashes)
      need.size
    }
  }

  /** The fold-side snapshot check every rewriting maintenance verb
    * runs before touching `members`' files (r17): find the manifest
    * tags the fold would newly orphan, then do what `guard` says —
    * refuse naming them (default), anchor their pinned files first,
    * or proceed knowingly. Callers hold the build lock. */
  private[graft] def guardFold(s: org.apache.spark.sql.SparkSession,
      verb: String, members: Seq[String], guard: FoldGuard): Unit =
    guard match {
      case FoldGuard.Orphan => ()
      case _ =>
        var pinned = members.distinct.flatMap(m =>
          snapshotOrphans(s, m).map { case (b, t) => (m, b, t) })
        // r18 (VERDICT #1): a kill -9 inside withIndexEpoch leaks an
        // ephemeral ep…p<pid> pin whose finally never ran — under the
        // default Refuse that dead pin would wedge every batch fold
        // (and bill anchor bytes to every unattended Anchor fold)
        // until an operator pruned by hand. When any pinning tag is a
        // LEAKED epoch, sweep the warehouse's leaked epochs and
        // re-classify; a LIVE process's epoch still refuses/anchors.
        if (pinned.exists { case (_, b, t) =>
            epochTagOwner(t).isDefined &&
              isLeakedEpoch(s, t, snapshotMtime(s, b, t)) }) {
          sweepLeakedEpochs(s)
          pinned = members.distinct.flatMap(m =>
            snapshotOrphans(s, m).map { case (b, t) => (m, b, t) })
        }
        if (pinned.nonEmpty) guard match {
          case FoldGuard.Refuse =>
            val tags = pinned.map { case (_, b, t) => s"$b/$t" }
              .distinct.sorted
            throw new IllegalStateException(
              s"$verb: rewriting would orphan manifest snapshot(s) " +
                s"${tags.mkString(", ")} — their manifested files " +
                "are about to be rewritten, after which readSnapshot" +
                "/restoreSnapshot refuse. Pass FoldGuard.Anchor to " +
                "copy the pinned files aside first (the snapshot " +
                "keeps serving), FoldGuard.Orphan to knowingly " +
                "retire them (checkSnapshot will name them), or " +
                "prune the snapshots")
          case FoldGuard.Anchor =>
            pinned.foreach { case (m, b, t) =>
              anchorMemberFiles(s, m, b, t); ()
            }
          case FoldGuard.Orphan => ()
        }
    }

  /** The `<base>_mf_<tag>` manifest table's location mtime — the
    * age clock the leaked-epoch tests read (0 when the manifest or
    * its location is already gone: ancient by convention). */
  private[graft] def snapshotMtime(s: org.apache.spark.sql.SparkSession,
      base: String, tag: String): Long =
    try {
      val loc = tableLocation(s, s"${base}_mf_$tag")
      loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getFileStatus(loc).getModificationTime
    } catch { case scala.util.control.NonFatal(_) => 0L }

  /** Delete every fold-anchor directory of `table`'s manifest-class
    * members under `tag`. */
  private def dropAnchors(s: org.apache.spark.sql.SparkSession,
      table: String, tag: String): Unit =
    (table +: SnapshotManifestSiblings.map(table + _)).foreach { m =>
      val a = anchorDir(s, m, tag)
      val fs = a.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(a)) { fs.delete(a, true); () }
    }

  /** The byte debt each snapshot tag's fold anchors hold for this
    * family: (tag, member, bytes), nonempty entries only — the
    * observability for the UNATTENDED Anchor folds (streaming
    * self-maintenance): anchors accumulate silently until their
    * snapshot drops, and an operator deciding retention wants the
    * number. O(metadata). */
  def listAnchors(s: org.apache.spark.sql.SparkSession,
      table: String): Seq[(String, String, Long)] =
    listSnapshots(s, table).flatMap { case (tag, _) =>
      (table +: SnapshotManifestSiblings.map(table + _)).flatMap {
        m =>
          val bytes = listFilesUnder(s, anchorDir(s, m, tag))
            .map(_._2).sum
          if (bytes > 0) Some((tag, m, bytes)) else None
      }
    }

  /** Resolve each manifested file of entry `m` under `tag` to the
    * location currently serving it: the entry's live location
    * (`locate`) first, the fold anchor second ((name, length)
    * identity both ways). Left = the violations a restore/read would
    * refuse on. */
  private def resolveSnapshotFiles(
      s: org.apache.spark.sql.SparkSession, m: String, tag: String,
      files: Seq[(String, Long)],
      locate: String => Option[org.apache.hadoop.fs.Path])
      : Either[Seq[String], Seq[org.apache.hadoop.fs.Path]] = {
    val liveLoc = locate(m)
    val live: Map[String, Long] =
      liveLoc.map(l => listFilesUnder(s, l).toMap).getOrElse(Map.empty)
    val aDir = anchorDir(s, m, tag)
    val anchored: Map[String, Long] = listFilesUnder(s, aDir).toMap
    val (bad, good) = files.partitionMap { case (p, l) =>
      if (live.get(p).contains(l))
        Right(new org.apache.hadoop.fs.Path(liveLoc.get, p))
      else if (anchored.get(p).contains(l))
        Right(new org.apache.hadoop.fs.Path(aDir, p))
      else if (live.contains(p))
        Left(s"$m/$p: length ${live(p)} != snapshot $l (rewritten)")
      else
        Left(s"$m/$p: missing (compacted/vacuumed/rebuilt, and not " +
          "anchored)")
    }
    if (bad.nonEmpty) Left(bad) else Right(good)
  }

  /** MANIFEST SNAPSHOT — the O(metadata) sibling of [[backupIndex]]
    * for append-dominated windows. [[backupIndex]] is an O(index)
    * bucketed rewrite per member: correct always, affordable rarely
    * (at 100 TB a daily full copy IS a daily rebuild). Between
    * maintenance folds the payload-scale members only APPEND
    * part-files (appends, upserts, tombstones — rewrites happen only
    * in compact/vacuum/refresh), so their snapshot needs nothing but
    * the FILE MANIFEST: (member, relative path, length) rows in
    * `<table>_mf_<tag>` — one file listing per member, the same
    * metadata the next parquet scan lists anyway, regardless of
    * index size. The tiny rewritten-in-place members
    * ([[SnapshotCopySiblings]]) ride along as O(1) table copies
    * under the same tag. [[restoreSnapshot]] converges by PRUNING
    * files that arrived after the snapshot, and refuses loudly when
    * any manifest file is gone or resized (a compaction/vacuum/
    * rebuild rewrote history — pruning can no longer reach the
    * snapshot; use the copy-based pair for that). A manifest member
    * with no files at snapshot is recorded by a null-path sentinel
    * so "present but empty" and "absent" restore differently.
    * Scale note: the listing (and restore's validation) is
    * driver-side O(#files) — the same order as the file listing
    * Spark's own scan planning performs on these tables, and
    * manifests shard naturally per FAMILY; at extreme file counts
    * the compaction cadence that keeps probe plans healthy keeps
    * manifests small for the same reason. */
  def snapshotIndex(s: org.apache.spark.sql.SparkSession, table: String,
      tag: String = "snap"): Seq[String] = withBuildLock(s) {
    requireTag("snapshotIndex", tag)
    require(s.catalog.tableExists(table),
      s"snapshotIndex: no family base table $table")
    // retire the manifest FIRST (r16 — the backupIndex marker
    // discipline): the manifest is this snapshot's commit marker
    // (written last), and on a RE-TAKE the meta-member copies below
    // are rewritten in place — a crash mid-copies must not leave the
    // PREVIOUS manifest describing a file set whose config/quantizer
    // copies are already the new ones; with the manifest retired,
    // every crash state refuses at restoreSnapshot's require
    val mf = s"${table}_mf_$tag"
    s.sql(s"DROP TABLE IF EXISTS $mf")
    clearOrphanLocation(s, mf)
    // a RE-TAKE also retires the previous take's fold anchors: the
    // new manifest records the current live files, and stale anchor
    // entries must not satisfy a later resolution by name collision
    dropAnchors(s, table, tag)
    val copies = SnapshotCopySiblings.map(table + _)
      .flatMap(backupTable(s, _, s"mf$tag"))
    val entries = (table +: SnapshotManifestSiblings.map(table + _))
      .flatMap(m => locateTable(s)(m).map(m -> _))
    val n = writeManifest(s, mf, entries)
    Seq(s"manifest $mf: $n files across ${entries.size} members") ++
      copies
  }

  /** Converge a family to its `<tag>` MANIFEST snapshot — or refuse
    * before touching anything. Phases:
    *   1. VALIDATE: every manifest file must still exist at its
    *      recorded length and every manifest member's table must
    *      still exist — otherwise a compact/vacuum/rebuild (or a
    *      drop) rewrote history since the snapshot, pruning cannot
    *      reach the snapshot state, and the whole restore REFUSES
    *      with the evidence (the copy-based [[restoreIndex]] is the
    *      documented fallback for exactly this);
    *   2. PRUNE: delete live data files not in the manifest (the
    *      appends/upserts/tombstones that arrived after it), DROP
    *      live manifest-class members absent at snapshot, refresh
    *      relation caches;
    *   3. copy-restore the metadata members ([[SnapshotCopySiblings]]
    *      — config pins/trained artifacts) from their O(1) copies.
    * Idempotent — a second call finds nothing to prune; the manifest
    * and copies are kept. Holds are untouched (no manifest rows, not
    * a snapshot member). */
  def restoreSnapshot(s: org.apache.spark.sql.SparkSession,
      table: String, tag: String = "snap"): Seq[String] =
    withBuildLock(s) {
      requireTag("restoreSnapshot", tag)
      val mf = s"${table}_mf_$tag"
      require(s.catalog.tableExists(mf),
        s"restoreSnapshot: no manifest $mf — refusing to touch the " +
          "live family without its snapshot")
      val manifest = readManifest(s, mf)
      // phase 1 — validate everything BEFORE mutating anything (a
      // manifested file may live at the member's location OR in the
      // tag's fold anchor — an anchored fold keeps the tag serving)
      requireConvergent(manifestProblems(s, tag, manifest,
        locateTable(s)), "backupIndex/restoreIndex path")
      // phase 2 — converge each manifest member to exactly its file
      // set (prune, copy anchored files back, recreate a member a fold
      // dropped), then drop members absent at snapshot
      val pruned = pruneToManifest(s, tag, manifest, locateTable(s))
      val dropped = (table +: SnapshotManifestSiblings.map(table + _))
        .filterNot(manifest.contains)
        .filter(s.catalog.tableExists)
        .map { m =>
          s.sql(s"DROP TABLE $m")
          s"dropped $m (absent at snapshot)"
        }
      // phase 3 — the rewritten-in-place metadata members come back
      // from their O(1) copies (absent copy = absent at snapshot =
      // dropped, the restoreTable contract)
      val meta = SnapshotCopySiblings.map(table + _)
        .flatMap(restoreTable(s, _, s"mf$tag"))
      pruned ++ dropped ++ meta
    }

  /** Drop a family's `<tag>` manifest + the metadata-member copies. */
  def dropSnapshot(s: org.apache.spark.sql.SparkSession, table: String,
      tag: String = "snap"): Unit = withBuildLock(s) {
    requireTag("dropSnapshot", tag)
    s.sql(s"DROP TABLE IF EXISTS ${table}_mf_$tag")
    SnapshotCopySiblings.map(table + _).foreach(m =>
      s.sql(s"DROP TABLE IF EXISTS ${m}_bak_mf$tag"))
    // the tag's fold anchors go with it — they exist only to keep
    // THIS snapshot serving across folds
    dropAnchors(s, table, tag)
    // an ephemeral epoch's lease heartbeat retires with its pin —
    // harmless double-delete when withEpochLease already dropped it
    if (epochTagParts(tag).isDefined) dropEpochLease(s, tag)
  }

  /** Repeatable-read serving epoch over one stored family: pin the
    * family's CURRENT state under a fresh manifest snapshot (O(metadata)
    * — the r16 time-travel layout holds no bytes), hand the tag to `f`
    * for any number of as-of probes ([[scoreBm25AsOf]],
    * `AnnIndex.scoreAsOf`, [[readSnapshot]], [[nearDupsAsOf]]), and
    * retire it on the way out. Within the epoch every probe answers
    * from the SAME file set no matter what lands concurrently —
    * upserts/deletes don't rewrite manifested files (append +
    * tombstone), and a maintenance fold either refuses or anchors the
    * pinned files (FoldGuard), so the epoch's reads stay consistent
    * across ALL concurrent writers, not just absent ones. This is the
    * multi-probe consistency the live path cannot give: two live
    * probes bracketing an atomic swap see two different indexes.
    */
  def withIndexEpoch[T](s: org.apache.spark.sql.SparkSession,
      table: String)(f: String => T): T = {
    val tag = epochTag()
    snapshotIndex(s, table, tag)
    try withEpochLease(s, tag)(f(tag))
    finally dropSnapshot(s, table, tag)
  }

  /** Six hex chars of this host's name — rides inside every epoch
    * tag so the dead-pid sweep can tell ITS host's pids from a
    * foreign host's on a shared (hdfs/s3) warehouse: pid liveness is
    * only answerable for local pids, and a foreign host's DEAD-here
    * pid may be a LIVE reader there (late r18, review). */
  private[graft] lazy val hostHash: String = {
    val name =
      try Some(java.net.InetAddress.getLocalHost.getHostName)
      catch { case scala.util.control.NonFatal(_) =>
        sys.env.get("HOSTNAME") }
    name match {
      case Some(n) =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(n.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(6)
      case None =>
        // identity unknown: a shared constant would let two nameless
        // hosts read as the SAME host and re-enable the foreign-pin
        // false sweep (late r18, review #2). A per-boot random hash
        // degrades safely instead — this boot's crashed pins age out
        // by TTL like a foreign host's, never falsely dead-pid-swept
        java.util.UUID.randomUUID().toString
          .replace("-", "").take(6)
    }
  }

  /** A fresh collision-free alphanumeric tag for ephemeral epoch
    * snapshots: base-36 nanotime + pid + host hash (two sessions on
    * one warehouse must not race to the same tag, and the sweep must
    * know WHOSE pid it is). The `ep…p<pid>h<host>` shape is a
    * RESERVED namespace: the pid inside is what lets the crash sweep
    * ([[sweepLeakedEpochs]]) tell a leaked pin from a live one —
    * don't hand-pick snapshot tags of this shape.
    */
  private[graft] def epochTag(): String =
    "ep" + java.lang.Long.toString(System.nanoTime(), 36) +
      "p" + java.lang.ProcessHandle.current().pid() +
      "h" + hostHash

  /** (owning pid, owning host hash) encoded in an ephemeral epoch
    * tag; None for every ordinary (operator-chosen) snapshot tag —
    * including a pid-only `ep…p<pid>` name, which [[epochTag]] never
    * mints, so the crash sweep can never take it for a leaked pin. */
  private[graft] def epochTagParts(tag: String): Option[(Long, String)] =
    "^ep[0-9a-z]+p([0-9]+)h([0-9a-f]{6})$".r
      .findFirstMatchIn(tag)
      .flatMap(m => scala.util.Try(m.group(1).toLong).toOption
        .map(pid => (pid, m.group(2))))

  /** The owning pid encoded in an ephemeral epoch tag; None for every
    * ordinary (operator-chosen) snapshot tag. */
  private[graft] def epochTagOwner(tag: String): Option[Long] =
    epochTagParts(tag).map(_._1)

  // ===== epoch lease heartbeats (r19, VERDICT #1) =====
  // The last false-sweep window: a live FOREIGN-host reader has no
  // pid the sweep can interrogate, so pre-r19 its pin aged out by
  // TTL alone — a legitimate epoch outliving graft.epoch.ttlMs was
  // falsely swept and the reader silently corrupted. The fix is a
  // lease: every with*Epoch scope touches a tiny heartbeat file
  // beside the warehouse on a sub-TTL cadence, and the sweep's TTL
  // clock measures from the LAST heartbeat, not the mint time. A
  // holder that stops renewing (crash, network partition longer than
  // the TTL) still ages out exactly as before; same-host dead-pid
  // sweeps are untouched (a dead pid cannot heartbeat, and the pid
  // test fires regardless of lease freshness).

  private def epochLeaseDir(s: org.apache.spark.sql.SparkSession)
      : org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      s.conf.getOption("graft.epoch.leaseDir").getOrElse(
        s.conf.get("spark.sql.warehouse.dir") +
          "/_graft_epoch_leases"))

  /** Touch `tag`'s lease file (create-or-overwrite → fresh mtime).
    * Failures degrade to the pre-lease TTL-only behavior — a
    * heartbeat must never take down the probe it protects. */
  private[graft] def renewEpochLease(
      s: org.apache.spark.sql.SparkSession, tag: String): Unit =
    try {
      val dir = epochLeaseDir(s)
      val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
      val out = fs.create(
        new org.apache.hadoop.fs.Path(dir, tag), true)
      try out.write(
        System.currentTimeMillis().toString.getBytes("UTF-8"))
      finally out.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** mtime of `tag`'s lease heartbeat; 0 when the tag never leased
    * (pre-r19 pins, crashed-before-first-heartbeat) — the TTL then
    * measures from the manifest mtime exactly as before. */
  private[graft] def epochLeaseMtime(
      s: org.apache.spark.sql.SparkSession, tag: String): Long =
    try {
      val dir = epochLeaseDir(s)
      dir.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getFileStatus(new org.apache.hadoop.fs.Path(dir, tag))
        .getModificationTime
    } catch { case scala.util.control.NonFatal(_) => 0L }

  private[graft] def dropEpochLease(
      s: org.apache.spark.sql.SparkSession, tag: String): Unit =
    try {
      val dir = epochLeaseDir(s)
      dir.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(new org.apache.hadoop.fs.Path(dir, tag), false)
      ()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** One shared daemon heartbeat thread for every concurrent epoch in
    * the JVM — renewals are single tiny-file writes on a cadence of
    * minutes, so one thread never backs up; daemon so a forgotten
    * scope cannot pin JVM exit. */
  private lazy val leaseExecutor =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-epoch-lease")
        t.setDaemon(true)
        t
      })

  /** Run `body` under a live lease on `tag`: one synchronous
    * heartbeat up front (so even a sub-interval scope leaves a lease
    * on disk), renewals every `graft.epoch.leaseRenewMs` (default
    * ttl/4, floor 1 s) from the shared daemon thread, cancel +
    * lease-file drop on the way out. Wraps the `f(tag)` stage of
    * every with*Epoch scope — the snapshot/drop bracket stays the
    * caller's. */
  private[graft] def withEpochLease[T](
      s: org.apache.spark.sql.SparkSession, tag: String)(
      body: => T): T = {
    renewEpochLease(s, tag)
    val ttl = s.conf.getOption("graft.epoch.ttlMs").map(_.toLong)
      .getOrElse(86400000L)
    val interval = s.conf.getOption("graft.epoch.leaseRenewMs")
      .map(_.toLong).getOrElse(math.max(1000L, ttl / 4))
    val task = leaseExecutor.scheduleAtFixedRate(
      () => renewEpochLease(s, tag),
      interval, interval, java.util.concurrent.TimeUnit.MILLISECONDS)
    try body
    finally {
      task.cancel(false)
      dropEpochLease(s, tag)
    }
  }

  /** Is this epoch tag LEAKED — an ephemeral pin whose owning process
    * can no longer retire it? `withIndexEpoch`'s finally never runs on
    * SIGKILL/OOM, and a leaked pin is worse than debris: it wedges
    * every default-Refuse batch fold and silently accrues anchor
    * bytes on every unattended Anchor fold. Two tests, either
    * suffices:
    *   - the tag's own pid is DEAD and the tag was minted on THIS
    *     host (the host hash inside the tag, late r18 — pid liveness
    *     is only answerable locally: on a shared warehouse a foreign
    *     host's pin whose pid is dead HERE may be a live reader
    *     THERE, and a falsely-swept epoch corrupts that reader
    *     silently where a falsely-held one merely waits for the TTL.
    *     A foreign host's pins age out by TTL only);
    *   - the pin's last HEARTBEAT is older than `graft.epoch.ttlMs`
    *     (default 24 h). The clock is `max(manifest mtime, lease
    *     mtime)` (r19, VERDICT #1): every with*Epoch scope renews a
    *     lease file on a sub-TTL cadence, so a LIVE holder — same
    *     host or foreign — survives the sweep however long its
    *     analysis runs, while a crashed one stops renewing and ages
    *     out exactly as before. Pre-lease pins (no lease file) fall
    *     back to the manifest mtime unchanged. Epochs are
    *     request-scoped reads, not retention points; unattended
    *     retention should take a NAMED snapshot instead.
    * Ordinary tags never qualify, whatever their age.
    */
  private[graft] def isLeakedEpoch(s: org.apache.spark.sql.SparkSession,
      tag: String, mtimeMs: Long,
      nowMs: Long = System.currentTimeMillis()): Boolean =
    epochTagParts(tag).exists { case (pid, host) =>
      val dead = host == hostHash &&
        !java.lang.ProcessHandle.of(pid).isPresent
      val ttl = s.conf.getOption("graft.epoch.ttlMs").map(_.toLong)
        .getOrElse(86400000L)
      val lastAlive = math.max(mtimeMs, epochLeaseMtime(s, tag))
      dead || nowMs - lastAlive > ttl
    }

  /** Sweep every LEAKED ephemeral epoch pin in the warehouse — the
    * crash path [[withIndexEpoch]]'s `finally` cannot cover (r18,
    * VERDICT #1): a kill -9 / OOM inside an epoch leaves its
    * `ep…p<pid>` manifest snapshot pinned forever, which turns the
    * default-Refuse FoldGuard from protection into denial of
    * maintenance. Scans the catalog for `<base>_mf_<eptag>` manifest
    * tables (family snapshots AND unified-group stream markers share
    * the naming, so one sweep retires both layers), applies
    * [[isLeakedEpoch]], and drops each leaked tag with the same
    * [[dropSnapshot]] the owner's finally would have run (manifest +
    * meta copies + fold anchors). Runs from [[guardFold]] before any
    * fold classifies its pinned tags, so maintenance self-heals; also
    * callable directly as the operator verb. A LIVE process's epoch is
    * never touched — folds still refuse/anchor across it.
    */
  def sweepLeakedEpochs(s: org.apache.spark.sql.SparkSession,
      table: Option[String] = None,
      nowMs: Long = System.currentTimeMillis())
      : Seq[String] = withBuildLock(s) {
    val pattern = table.map(_.toLowerCase + "_mf_ep*")
      .getOrElse("*_mf_ep*")
    val sweptPins = s.sessionState.catalog
      .listTables("default", pattern)
      .map(_.table).sorted.flatMap { n =>
        val i = n.lastIndexOf("_mf_")
        if (i <= 0) None
        else {
          val base = n.substring(0, i)
          val tag = n.substring(i + 4)
          if (isLeakedEpoch(s, tag, snapshotMtime(s, base, tag),
              nowMs)) {
            dropSnapshot(s, base, tag)
            Some(s"swept leaked epoch $base/$tag (owner pid " +
              s"${epochTagOwner(tag).getOrElse(-1L)} dead or TTL " +
              "expired)")
          } else None
        }
      }
    // lease-file debris (r19): a crash inside withEpochLease leaves
    // the heartbeat file behind; once its tag's pin is gone (this
    // pass or an earlier one) the file is pure debris, and its own
    // leaked-ness is answerable by the same test — the lease IS the
    // heartbeat, so a dead-here-and-stale lease sweeps, a fresh or
    // foreign-live one waits. Global sweeps only; a table-scoped
    // sweep cannot tell which base a lease's tag belonged to.
    val sweptLeases =
      if (table.isDefined) Nil
      else try {
        val dir = epochLeaseDir(s)
        val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (!fs.exists(dir)) Nil
        else fs.listStatus(dir).toSeq
          .filter(st => epochTagParts(st.getPath.getName).isDefined)
          .sortBy(_.getPath.getName)
          .flatMap { st =>
            val tag = st.getPath.getName
            val pinned = s.sessionState.catalog
              .listTables("default", s"*_mf_$tag").nonEmpty
            if (!pinned && isLeakedEpoch(s, tag,
                st.getModificationTime, nowMs)) {
              fs.delete(st.getPath, false)
              Some(s"swept orphan epoch lease $tag")
            } else None
          }
      } catch { case scala.util.control.NonFatal(_) => Nil }
    sweptPins ++ sweptLeases
  }

  /** READ-ONLY restorability audit of a `<tag>` manifest snapshot —
    * [[restoreSnapshot]]'s phase-1 validation exposed as its own
    * verb, so "would this snapshot still restore?" is a cadence
    * check instead of a discovery at recovery time (the classic
    * failure is a backup nobody ever test-restored). Returns the
    * violations a restore would refuse on, PLUS a warning for any
    * live copy-class member the snapshot has no copy of (restore
    * would drop it — correct by the absence contract, but a family
    * "restoring" to no config pin is worth knowing before recovery
    * day). Nil = restores clean NOW; each maintenance fold
    * flips this — re-check after compact/vacuum/refresh, and take a
    * fresh copy-based anchor. */
  def checkSnapshot(s: org.apache.spark.sql.SparkSession,
      table: String, tag: String = "snap",
      deep: Boolean = false): Seq[String] = {
    requireTag("checkSnapshot", tag)
    val mf = s"${table}_mf_$tag"
    if (!s.catalog.tableExists(mf))
      return Seq(s"no manifest $mf")
    val manifest = readManifest(s, mf)
    val fileProblems = manifestProblems(s, tag, manifest, locateTable(s))
    val copyProblems = SnapshotCopySiblings.map(table + _)
      .filter(m => s.catalog.tableExists(m) &&
        !s.catalog.tableExists(s"${m}_bak_mf$tag"))
      .map(m => s"$m: live member has no meta copy under tag $tag " +
        "(snapshot taken before it existed? restore would drop it)")
    // DEEP pass (opt-in, r17): the snapshot holds no bytes of its
    // own EXCEPT fold anchors — often the only remaining copy of a
    // pin (the live file was folded away) — so re-hash every
    // anchored manifested file against the anchor's `_sha` sidecar.
    // Live-served files have no take-time hash BY DESIGN (the
    // snapshot is O(metadata); their integrity belongs to the live
    // family and the copy backups' deep audit). Same-length bit rot
    // in an anchor would otherwise serve corrupt as-of reads with
    // every (name, len) check green.
    val deepProblems =
      if (!deep) Nil
      else verifyPins(s, manifest.toSeq.sortBy(_._1).flatMap {
        case (m, files) =>
          val aDir = anchorDir(s, m, tag)
          val anchored = listFilesUnder(s, aDir).toMap
          if (anchored.isEmpty) Nil
          else {
            val shas = readAnchorShas(s, aDir)
            files.sortBy(_._1)
              .filter { case (p, l) => anchored.get(p).contains(l) }
              .map { case (p, _) =>
                shas.get(p) match {
                  case None => Left(s"$m/$p: anchored without a " +
                    "recorded content hash (pre-hash anchor) — " +
                    "deep audit cannot verify it")
                  case Some(sha) =>
                    Right(Pin(aDir.toString, p, sha, found =>
                      s"$m/$p: anchor content mismatch (recorded md5 " +
                        s"$sha, found $found — bit rot in the anchor, " +
                        "possibly the pin's only copy); restore this " +
                        "tag from a copy backup"))
                }
              }
          }
      })
    fileProblems ++ copyProblems ++ deepProblems
  }

  /** TIME-TRAVEL READ — query a member AS OF a `<tag>` manifest
    * snapshot WITHOUT restoring anything: manifest-class members
    * read exactly the manifested files from the member's live
    * location (between folds those files are immutable — append-only
    * maintenance never rewrites a stored part-file, which is the
    * same property the restore path prunes by); copy-class members
    * ([[SnapshotCopySiblings]]) read their O(1) `_bak_mf<tag>`
    * copies. Refuses loudly when a fold rewrote history (a
    * manifested file is gone or changed) — restoreSnapshot's honesty
    * rule, with nothing mutated. The returned frame is a plain
    * parquet read of the snapshot's files (no bucket metadata), so
    * it serves AS-OF analytics and audits ("what did the corpus look
    * like last Tuesday"), not the zero-Exchange probe plans —
    * restore for those. The raw read: tombstoned rows are still in
    * it. The as-of probes read through [[IndexFamily.frames]], which
    * subtracts the tag's own `_del` list. */
  def readSnapshot(s: org.apache.spark.sql.SparkSession,
      table: String, tag: String = "snap", member: String = "")
      : org.apache.spark.sql.DataFrame = {
    requireTag("readSnapshot", tag)
    val m = table + member
    if (SnapshotCopySiblings.contains(member)) {
      val b = s"${m}_bak_mf$tag"
      require(s.catalog.tableExists(b),
        s"readSnapshot: no meta copy $b (member absent at snapshot, " +
          s"or no snapshot under tag $tag)")
      return s.table(b)
    }
    val mf = s"${table}_mf_$tag"
    require(s.catalog.tableExists(mf),
      s"readSnapshot: no manifest $mf")
    val manifest = readManifest(s, mf)
    require(manifest.contains(m),
      s"readSnapshot: member $m not in snapshot $tag")
    val files = manifest(m)
    if (files.isEmpty) {
      require(s.catalog.tableExists(m),
        s"readSnapshot: member $m was empty at snapshot and has " +
          "been dropped since — nothing to serve")
      s.table(m).limit(0)
    } else resolveSnapshotFiles(s, m, tag, files, locateTable(s)) match {
      case Left(problems) => throw new IllegalArgumentException(
        "readSnapshot: history was rewritten since the snapshot — " +
          s"${problems.take(5).mkString("; ")} — these files are " +
          "gone; only the copy-based backup can serve this state now")
      case Right(paths) =>
        // pin the live schema when the member still exists: a
        // subset-file read must not re-infer (e.g. drop a gen column
        // absent from the sampled footer). A member a fold dropped
        // serves straight from its (complete) anchored file set.
        val reader =
          if (s.catalog.tableExists(m))
            s.read.schema(s.table(m).schema)
          else s.read
        reader.parquet(paths.map(_.toString): _*)
    }
  }

  /** O(metadata) DIFF between two manifest snapshots — per member:
    * files and bytes added/removed from `tagA` to `tagB` — the
    * cadence signal for what a snapshot window accumulated (when to
    * fold, how big the next restore-prune would be). Members present
    * in only one tag report as added/dropped. Nil = identical. */
  def snapshotDiff(s: org.apache.spark.sql.SparkSession,
      table: String, tagA: String, tagB: String): Seq[String] = {
    Seq(tagA, tagB).foreach(requireTag("snapshotDiff", _))
    def load(tag: String): Map[String, Seq[(String, Long)]] = {
      val mf = s"${table}_mf_$tag"
      require(s.catalog.tableExists(mf),
        s"snapshotDiff: no manifest $mf")
      readManifest(s, mf)
    }
    val a = load(tagA)
    val b = load(tagB)
    (a.keySet ++ b.keySet).toSeq.sorted.flatMap { m =>
      (a.get(m), b.get(m)) match {
        case (None, Some(_)) => Seq(s"$m: member added in $tagB")
        case (Some(_), None) => Seq(s"$m: member dropped in $tagB")
        case (Some(fa), Some(fb)) =>
          val sa = fa.toSet
          val sb = fb.toSet
          val add = sb -- sa
          val rem = sa -- sb
          if (add.isEmpty && rem.isEmpty) Nil
          else Seq(s"$m: +${add.size} files (${add.toSeq.map(_._2)
            .sum} bytes), -${rem.size} files (${rem.toSeq.map(_._2)
            .sum} bytes)")
        case _ => Nil
      }
    }
  }

  /** The tags of the catalog tables named `<prefix><tag>`, in name
    * order. */
  private[graft] def listTags(s: org.apache.spark.sql.SparkSession,
      prefix: String): Seq[String] = {
    val p = prefix.toLowerCase
    s.sessionState.catalog.listTables("default", s"$p*")
      .map(_.table.stripPrefix(p)).sorted
  }

  /** The tags of the catalog tables named `<prefix><tag>` with each
    * table's location mtime, NEWEST FIRST: one catalog listing plus one
    * `getFileStatus` per tag. Every tag record is written last by its
    * take, so the mtime is the take's commit time — no clock rides in
    * the data. */
  private[graft] def listTagsWithAge(s: org.apache.spark.sql.SparkSession,
      prefix: String): Seq[(String, Long)] = {
    val p = prefix.toLowerCase
    s.sessionState.catalog.listTables("default", s"$p*").map(_.table)
      .map { n =>
        val loc = tableLocation(s, n)
        val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        (n.stripPrefix(p), fs.getFileStatus(loc).getModificationTime)
      }
      .sortBy(-_._2)
  }

  /** The family's manifest snapshots, NEWEST FIRST: (tag, manifest
    * mtime ms). */
  def listSnapshots(s: org.apache.spark.sql.SparkSession,
      table: String): Seq[(String, Long)] =
    listTagsWithAge(s, s"${table}_mf_")

  /** The family's copy-based backups, by tag — COMMITTED sets only
    * (the `_bakok_<tag>` marker is written last by [[backupIndex]]
    * and required by [[restoreIndex]], so a tag listed here is
    * restorable; a crashed backup's marker-less copies do NOT list —
    * [[checkBackup]] names them). */
  def listBackups(s: org.apache.spark.sql.SparkSession,
      table: String): Seq[String] =
    listTags(s, s"${table}_bakok_")

  /** The family's COMMITTED copy-backup tags with their marker
    * mtimes, NEWEST FIRST — the age-aware sibling of [[listBackups]]. */
  def listBackupsWithAge(s: org.apache.spark.sql.SparkSession,
      table: String): Seq[(String, Long)] =
    listTagsWithAge(s, s"${table}_bakok_")

  /** RETENTION for manifest snapshots: drop the ones `r` picks
    * (manifest + meta copies + fold anchors). A tight snapshot cadence
    * without this grows one tiny manifest table per tag forever. */
  def pruneSnapshots(s: org.apache.spark.sql.SparkSession,
      table: String, r: Retention): Seq[String] =
    pruneSnapshotTags(s, table, r)(dropSnapshot(s, table, _))

  /** The snapshot-drop loop of the family and group
    * `pruneSnapshots`: under the build lock, `drop` each snapshot tag
    * of `base` that `r` picks, newest first. */
  private[graft] def pruneSnapshotTags(s: org.apache.spark.sql.SparkSession,
      base: String, r: Retention)(drop: String => Unit): Seq[String] =
    withBuildLock(s) {
      r.select(listSnapshots(s, base))(_._2).map { case (tag, _) =>
        drop(tag)
        s"dropped snapshot $tag"
      }
    }

  /** The family's COMPLETE storage footprint as one queryable frame —
    * the gauge every retention decision reads. One row per
    * (component, tag, member) with file count and bytes, all
    * O(metadata) listings (no data read):
    *
    *   - `live`: every live member table (base + siblings).
    *   - `backup`: per committed tag, the files a copy PHYSICALLY
    *     holds. `backup-borrowed` counts a differential tag's
    *     by-reference bytes separately — they are the BASE tag's
    *     physical bytes, so summing `bytes` over `backup` alone is
    *     the true disk footprint, and `backup-borrowed` is the
    *     promote-cost gauge ([[backupProvenance]] prices it per
    *     base).
    *   - `snapshot`: per tag, the manifest table + O(1) meta copies
    *     (flat KiBs — the time-travel layout holds no data bytes).
    *   - `anchor`: per (tag, member), fold-anchor bytes — the debt an
    *     Anchor fold leaves behind ([[listAnchors]]), reclaimed by
    *     dropping the tag.
    *   - `debris`: crashed-writer leftovers — `_compact`/`_old`
    *     swap stages, `_restoretmp`, and marker-less `_bak_*` copies
    *     (a crashed or pre-r16 take) — bytes fsck/checkBackup name
    *     and repair/re-take reclaim.
    *
    * Reclaim verbs per component: dropBackup / promoteBackup (backup),
    * dropSnapshot / pruneSnapshots (snapshot + anchor), repair +
    * re-take (debris). Live bytes fold via compact/vacuum — priced
    * against the snapshots they would orphan by [[snapshotDiff]] and
    * the FoldGuard.
    */
  def storageBreakdown(s: org.apache.spark.sql.SparkSession,
      table: String): org.apache.spark.sql.DataFrame = {
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, Long, Long)]
    def add(component: String, tag: String, member: String,
        files: Seq[(String, Long)]): Unit =
      if (files.nonEmpty)
        rows += ((component, tag, member, files.size.toLong,
          files.map(_._2).sum))
    val members = table +: BackupSiblings.map(table + _)
    members.filter(s.catalog.tableExists)
      .foreach(m => add("live", "", m, listDataFiles(s, m)))
    // swap/restore stages left by a crashed writer
    Seq("_compact", "_old", "_restoretmp").map(table + _)
      .filter(s.catalog.tableExists)
      .foreach(m => add("debris", "", m, listDataFiles(s, m)))
    // committed backups: physical vs borrowed, per copy — ONE
    // aggregation per marker frame (r18, VERDICT #5): only the
    // per-(copy, class) summary rows reach the driver, never one
    // tuple per committed file
    def addAgg(component: String, tag: String, member: String,
        files: Long, bytes: Long): Unit =
      if (files > 0) rows += ((component, tag, member, files, bytes))
    val committed = listBackups(s, table)
    committed.foreach { tag =>
      markerFrame(s, s"${table}_bakok_$tag")
        .where(col("path").isNotNull)
        .withColumn("_borrowed",
          col("src").isNotNull && col("src") =!= lit(tag))
        .groupBy(col("member"), col("_borrowed"))
        .agg(count(lit(1)).as("files"), sum(col("len")).as("bytes"))
        .collect()
        .map(r => (r.getString(0), r.getBoolean(1), r.getLong(2),
          r.getLong(3)))
        .sortBy(x => (x._1, x._2))
        .foreach { case (copy, borrowed, nf, nb) =>
          addAgg(if (borrowed) "backup-borrowed" else "backup",
            tag, copy, nf, nb)
        }
    }
    // manifest snapshots: manifest table + meta copies per tag. A
    // LEAKED ephemeral epoch's rows (dead owning pid / expired TTL,
    // r18) classify as debris — sweepLeakedEpochs reclaims them, and
    // the retention operator must not read them as intentional
    // restore points
    val snaps = listSnapshots(s, table)
    val snapTags = snaps.map(_._1)
    val leakedTags = snaps.collect {
      case (tag, mtime) if isLeakedEpoch(s, tag, mtime) => tag
    }.toSet
    def snapComponent(tag: String, kind: String): String =
      if (leakedTags.contains(tag)) "debris" else kind
    snapTags.foreach { tag =>
      val mfFiles = listDataFiles(s, s"${table}_mf_$tag")
      val copyFiles = SnapshotCopySiblings.map(table + _)
        .map(m => s"${m}_bak_mf$tag").filter(s.catalog.tableExists)
        .flatMap(listDataFiles(s, _))
      add(snapComponent(tag, "snapshot"), tag, s"${table}_mf_$tag",
        mfFiles ++ copyFiles)
    }
    // fold-anchor byte debt per (tag, member)
    snapTags.foreach { tag =>
      (table +: SnapshotManifestSiblings.map(table + _)).foreach { m =>
        add(snapComponent(tag, "anchor"), tag, m,
          listFilesUnder(s, anchorDir(s, m, tag)))
      }
    }
    // marker-less copies: a crashed/pre-marker take, or out-of-band
    // writes — classify every catalog _bak_ table we did not account
    val accounted = committed.flatMap(t =>
      members.map(m => s"${m}_bak_$t")).toSet ++
      snapTags.flatMap(t => SnapshotCopySiblings.map(table + _)
        .map(m => s"${m}_bak_mf$t")).toSet
    members.foreach { m =>
      val prefix = s"${m.toLowerCase}_bak_"
      s.sessionState.catalog.listTables("default", s"$prefix*")
        .map(_.table).filterNot(accounted.map(_.toLowerCase))
        .sorted
        .foreach(c => add("debris", c.stripPrefix(prefix), c,
          listDataFiles(s, c)))
    }
    val sp = s
    import sp.implicits._
    rows.toSeq.toDF("component", "tag", "member", "files", "bytes")
      .orderBy("component", "tag", "member")
  }

  /** RETENTION for copy-based backups: drop the committed tags `r`
    * picks — differential bases with live dependents are kept with a
    * note (see [[pruneBackupTags]]). */
  def pruneBackups(s: org.apache.spark.sql.SparkSession,
      table: String, r: Retention): Seq[String] =
    pruneBackupTags(s, listBackupsWithAge(s, table), r,
      dependentBackups(s, table, _))(dropBackup(s, table, _))

  /** The borrowed-base keep loop of the family and group
    * `pruneBackups`: under the build lock, `drop` each tag `r` picks
    * from `tagged` (newest first) — EXCEPT a tag that `dependents`
    * says other live tags still borrow files from: a differential base
    * outliving its retention window is kept with a note instead of
    * stranding its dependents (drop or re-anchor the dependents, then
    * the next prune pass takes the base). Dependents inside the same
    * pick drop first (newest-first order), so a whole retired chain
    * clears in ONE pass. */
  private[graft] def pruneBackupTags(s: org.apache.spark.sql.SparkSession,
      tagged: => Seq[(String, Long)], r: Retention,
      dependents: String => Seq[String])(drop: String => Unit)
      : Seq[String] =
    withBuildLock(s) {
      r.select(tagged)(_._2).map { case (tag, _) =>
        val deps = dependents(tag)
        if (deps.nonEmpty)
          s"kept backup $tag: differential base of live tag(s) " +
            deps.mkString(",")
        else {
          drop(tag)
          s"dropped backup $tag"
        }
      }
    }

  /** What travels on a MIGRATION, vs a backup: the legal-hold
    * registry. Backups deliberately leave `_hold` outside (holds
    * never roll back); an export is the family MOVING, and legal
    * obligations move with the data. Replay ledgers/checkpoints stay
    * home either way — delivery history is warehouse-local (a
    * re-pointed ingest stream starts a fresh ledger; for document
    * families the hash store keeps redelivered content from
    * double-indexing). */
  private[graft] val ExportSiblings: Seq[String] =
    BackupSiblings :+ "_hold"

  /** EXPORT a family to a portable directory — the MIGRATE verb: the
    * way an index moves to another warehouse or cluster WITHOUT a
    * rebuild (at 100 TB, "re-ingest the corpus on the new cluster"
    * is weeks; a file copy is hours and exact). Layout under `dest`:
    * one `m<suffix>` directory of raw member data files per existing
    * member, plus a `_graft_export` parquet manifest carrying each
    * member's schema DDL and bucket spec — everything
    * [[importIndex]] needs to re-register the family with identical
    * zero-Exchange probe plans. Runs under the build lock for a
    * point-in-time-consistent copy. */
  def exportIndex(s: org.apache.spark.sql.SparkSession, table: String,
      dest: String): Seq[String] = withBuildLock(s) {
    require(s.catalog.tableExists(table),
      s"exportIndex: no family base table $table")
    val conf = s.sparkContext.hadoopConfiguration
    val destP = new org.apache.hadoop.fs.Path(dest)
    val dfs = destP.getFileSystem(conf)
    require(!dfs.exists(destP) || dfs.listStatus(destP).isEmpty,
      s"exportIndex: destination $dest is not empty — refusing to " +
        "mix exports")
    val members = (table +: ExportSiblings.map(table + _))
      .filter(s.catalog.tableExists)
    val rows = members.map { m =>
      val meta = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(m))
      val suffix = m.stripPrefix(table)
      val loc = tableLocation(s, m)
      val sfs = loc.getFileSystem(conf)
      val mDest = new org.apache.hadoop.fs.Path(destP, s"m$suffix")
      if (sfs.exists(loc))
        org.apache.hadoop.fs.FileUtil.copy(sfs, loc, dfs, mDest,
          false, conf)
      else { dfs.mkdirs(mDest); () }
      (suffix, meta.schema.toDDL,
        meta.bucketSpec.map(_.numBuckets).getOrElse(0),
        meta.bucketSpec.map(_.bucketColumnNames.mkString(","))
          .getOrElse(""),
        meta.bucketSpec.map(_.sortColumnNames.mkString(","))
          .getOrElse(""))
    }
    val sp = s
    import sp.implicits._
    rows.toDF("suffix", "ddl", "n_buckets", "bucket_cols", "sort_cols")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dest/_graft_export")
    Seq(s"exported ${members.size} members to $dest")
  }

  /** IMPORT an exported family under `table` (any name — import IS
    * also the clone/rename verb) — ZERO-SHUFFLE: the exported files
    * came from a bucketed table and keep Spark's bucket-id file
    * naming (`..._0000N.`), so a bucketed member re-registers by
    * creating an EMPTY table with the manifest's exact spec and
    * copying the data files into its location — a file copy, not a
    * re-bucket. At 100 TB that's the whole point of the verb: the
    * shuffle-through-`bucketBy` alternative re-indexes the corpus;
    * this is an rsync, and the bucket ids are correct by
    * construction (same columns, same count, same murmur3 — the
    * file NAME carries the id, which is what the bucketed scan
    * reads). Probe-parity + score-parity gates in ExportSpec would
    * catch any misassignment (a bucketed join over misplaced rows
    * returns wrong results, not an error). Refuses if ANY target
    * member already exists (no silent overwrite — drop first). */
  def importIndex(s: org.apache.spark.sql.SparkSession, src: String,
      table: String): Seq[String] = withBuildLock(s) {
    val manifest = s.read.parquet(s"$src/_graft_export").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getString(3), r.getString(4)))
      .sortBy(_._1)
    require(manifest.nonEmpty, s"importIndex: empty manifest at $src")
    val clashes = manifest.map(table + _._1)
      .filter(s.catalog.tableExists)
    require(clashes.isEmpty,
      s"importIndex: target members exist (${clashes.mkString(", ")})" +
        " — drop them first; import never overwrites")
    val conf = s.sparkContext.hadoopConfiguration
    manifest.map { case (suffix, ddl, nBuckets, bCols, sCols) =>
      val t = table + suffix
      val dataDir = new org.apache.hadoop.fs.Path(s"$src/m$suffix")
      val bucketed =
        if (nBuckets > 0) {
          val cols = bCols.split(",").toSeq
          val sorted =
            if (sCols.nonEmpty)
              s" SORTED BY (${sCols.split(",").mkString(", ")})"
            else ""
          s.sql(s"CREATE TABLE $t ($ddl) USING PARQUET CLUSTERED BY " +
            s"(${cols.mkString(", ")})$sorted INTO $nBuckets BUCKETS")
          true
        } else {
          s.sql(s"CREATE TABLE $t ($ddl) USING PARQUET")
          false
        }
      // move the data in as a FILE COPY into the fresh table's
      // location — no read, no shuffle, no rewrite
      val dst = tableLocation(s, t)
      val sfs = dataDir.getFileSystem(conf)
      val dfs = dst.getFileSystem(conf)
      if (sfs.exists(dataDir))
        sfs.listStatus(dataDir).toSeq
          .filterNot(f => f.getPath.getName.startsWith("_") ||
            f.getPath.getName.startsWith("."))
          .foreach(f => org.apache.hadoop.fs.FileUtil.copy(
            sfs, f.getPath, dfs, new org.apache.hadoop.fs.Path(dst,
              f.getPath.getName), false, conf))
      s.catalog.refreshTable(t)
      s"imported $t" + (if (bucketed) s" ($nBuckets buckets, " +
        "zero-shuffle)" else "")
    }.toSeq
  }

  /** Promote a GROUP of replacement tables atomically-enough that a
    * crash at ANY step converges to the all-new group on recovery —
    * closing the "the PAIR isn't atomic" caveat the refresh ops
    * carried (a crash between PqIndex.refresh's codebook swap and
    * codes swap served new codewords against old codes until healed).
    *
    * Protocol (all under the caller-held [[bm25BuildLock]]):
    *   0. record INTENT: `<base>_swap` gets one (member, tmp) row per
    *      pair — written before any rename, dropped after all of them,
    *      so its existence marks "a group swap is in flight";
    *   1. rename every member OUT to `<member>_old`;
    *   2. rename every tmp IN to its member name;
    *   3. drop the `_old` backups, drop the marker.
    * Each rename is an atomic catalog op. [[recoverGroupSwap]] reads
    * the marker and replays whatever phase each member crashed in —
    * every member's replacement survives under its tmp name until its
    * own phase-2 rename, so recovery always has the NEW copy to
    * promote and never resurrects a mixed old/new group (gated in
    * GroupSwapSpec at every crash point).
    */
  private[graft] def swapIndexTableGroup(
      s: org.apache.spark.sql.SparkSession,
      base: String, pairs: Seq[(String, String)]): Unit = {
    val marker = base + "_swap"
    pairs.foreach { case (t, tmp) =>
      require(s.catalog.tableExists(tmp),
        s"swapIndexTableGroup: replacement $tmp missing for $t")
      require(s.catalog.tableExists(t),
        s"swapIndexTableGroup: member $t unbound — heal with " +
          "recoverGroupSwap/recoverSwap before swapping")
    }
    s.sql(s"DROP TABLE IF EXISTS $marker")
    clearOrphanLocation(s, marker)
    val sp = s
    import sp.implicits._
    pairs.toDF("member", "tmp").coalesce(1)
      .write.saveAsTable(marker)
    pairs.foreach { case (t, _) =>
      val old = t + "_old"
      s.sql(s"DROP TABLE IF EXISTS $old")
      clearOrphanLocation(s, old)
      s.sql(s"ALTER TABLE $t RENAME TO $old")
    }
    pairs.foreach { case (t, tmp) =>
      s.sql(s"ALTER TABLE $tmp RENAME TO $t")
    }
    pairs.foreach { case (t, _) =>
      s.sql(s"DROP TABLE IF EXISTS ${t}_old")
    }
    s.sql(s"DROP TABLE $marker")
    pairs.foreach { case (t, _) => s.catalog.refreshTable(t) }
  }

  /** Heal a crashed [[swapIndexTableGroup]]: if the intent marker
    * exists, drive every member to its NEW copy — the member states a
    * crash can leave are exactly
    *   - tmp present, member bound, no `_old`: phase 1 never ran for
    *     it → rename out, rename in;
    *   - tmp present, member unbound: crashed between its phase-1 and
    *     phase-2 renames → rename the tmp in;
    *   - tmp gone, member bound: its swap completed → just drop any
    *     `_old` leftover;
    * then drop the marker. Idempotent; catalog ops only. The
    * defensive last-resort (tmp gone AND member unbound — outside the
    * protocol's reachable states) restores `_old` so SOMETHING serves.
    * Run this before [[swapIndexTableGroup]] and before trusting a
    * group-swapped family's tables.
    */
  private[graft] def recoverGroupSwap(
      s: org.apache.spark.sql.SparkSession, base: String): Unit = {
    val marker = base + "_swap"
    if (!s.catalog.tableExists(marker)) return
    val pairs = s.table(marker).collect()
      .map(r => (r.getString(0), r.getString(1)))
    pairs.foreach { case (t, tmp) =>
      val old = t + "_old"
      if (s.catalog.tableExists(tmp)) {
        if (s.catalog.tableExists(t)) {
          if (!s.catalog.tableExists(old)) {
            s.sql(s"ALTER TABLE $t RENAME TO $old")
            s.sql(s"ALTER TABLE $tmp RENAME TO $t")
          }
          // t bound AND _old present AND tmp present is unreachable
          // (phase 1 unbinds t before phase 2 rebinds it); leave the
          // bound copy alone rather than guess
        } else s.sql(s"ALTER TABLE $tmp RENAME TO $t")
      } else if (!s.catalog.tableExists(t) &&
          s.catalog.tableExists(old)) {
        s.sql(s"ALTER TABLE $old RENAME TO $t")
      }
      if (s.catalog.tableExists(t) && s.catalog.tableExists(old)) {
        s.sql(s"DROP TABLE $old")
      }
      // a member whose every copy was removed out-of-band (dead-pid
      // sweep, manual DROP) is unrecoverable — heal the REST of the
      // group rather than throwing here and wedging the family with
      // the marker pinned forever (review r13)
      if (s.catalog.tableExists(t)) s.catalog.refreshTable(t)
    }
    s.sql(s"DROP TABLE $marker")
  }

  /** Heal a crashed [[swapIndexTables]] — idempotent, cheap (catalog
    * lookups only), run by compactIndex and memoIndex before they
    * trust the catalog state. The two crash states:
    *   - `table` unbound: prefer the REPLACEMENT copy under
    *     `<table>_compact` (it was fully written before the swap
    *     began — saveAsTable registers only complete tables), else
    *     restore the backup `<table>_old`;
    *   - `table` bound with a leftover `_old`: the swap finished all
    *     but the final drop — drop the backup.
    * Gated in CompactionSpec's crash-state tests: recovery restores
    * the binding without any rebuild.
    */
  private[graft] def recoverSwap(s: org.apache.spark.sql.SparkSession,
      table: String): Unit = {
    val old = table + "_old"
    val tmp = table + "_compact"
    var healed = false
    if (!s.catalog.tableExists(table)) {
      if (s.catalog.tableExists(tmp)) {
        s.sql(s"ALTER TABLE $tmp RENAME TO $table"); healed = true
      } else if (s.catalog.tableExists(old)) {
        s.sql(s"ALTER TABLE $old RENAME TO $table"); healed = true
      }
    }
    if (s.catalog.tableExists(old) && s.catalog.tableExists(table)) {
      s.sql(s"DROP TABLE $old"); healed = true
    }
    // refresh ONLY when something changed: an unconditional refresh
    // would drop the relation cache on every memoized probe's
    // memoIndex pass and re-list files per rep
    if (healed) s.catalog.refreshTable(table)
  }

  /** The ONE tokenize→tf pipeline both index builders share — the
    * exact-parity gate between q_bm25 and q_bm25_incr depends on batch
    * and incremental builds tokenizing IDENTICALLY, so the definition
    * must be impossible to change in one place only.
    *
    * coalesce(text, '') (ADVICE r11): explode drops NULL arrays, so a
    * NULL-text document would silently vanish from the index's dl /
    * n_docs while q_tfidf's oracle counts it via count(DISTINCT
    * doc_id) FROM documents — a latent oracle break armed by any
    * testdata regeneration that ships NULL text. Canonicalized to '',
    * such a document yields the single '' token on BOTH engines
    * (split/string_split_regex of '' is ['']) and stays in every
    * corpus statistic; the oracle twins carry the same coalesce.
    */
  private def tokenTf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"),
        explode(split(trim(coalesce(col("text"), lit(""))), "\\s+"))
          .as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))

  def writeBm25Index(docs: org.apache.spark.sql.DataFrame, table: String,
      nBuckets: Int = 8): Unit = withBuildLock(docs.sparkSession) {
    val s = docs.sparkSession
    clearOrphanLocation(s, table)
    // rebuild-over-upserted-family: rows ride at the top surviving
    // finite barrier, not gen 0 (see [[rebuildGen]] — ADVICE r14)
    val gTop = rebuildGen(s, table + "_del")
    val tf = tokenTf(
      exceptHeld(docs, s, table + "_hold", "doc_id")).persist()
    try bm25PostingRows(tf).withColumn("gen", lit(gTop))
      .write.mode("overwrite")
      .bucketBy(nBuckets, "token").sortBy("token")
      .saveAsTable(table)
    finally tf.unpersist()
  }

  /** INCREMENTAL BM25 index maintenance — the ingest path the batch
    * index's doc only promised ("at 100 TB the index is maintained
    * incrementally at ingest"). Two changes against [[writeBm25Index]]
    * make append-only maintenance CORRECT:
    *   - postings carry only DOC-LOCAL stats (token, doc_id, tf, dl):
    *     a new batch appends to the bucketed table (bucketBy append
    *     keeps the layout) and nothing already stored is ever
    *     rewritten;
    *   - the CORPUS-GLOBAL stats are not stored at all. df is derived
    *     AT PROBE TIME from the rows the probe fetched anyway (every
    *     posting of a probed token lives in that token's bucket, so
    *     count-per-token over the fetched rows IS the full document
    *     frequency — zero extra scan), and (n_docs, sum_dl) from the
    *     `<table>_docs` member's live (doc_id, dl) rows
    *     ([[bm25Stats]]), which each append writes beside the postings.
    * [[bm25ScoreIncr]] then reproduces the batch arithmetic op-for-op,
    * so scores over an incrementally-grown index hash-match q_bm25's
    * oracle — q_bm25_incr builds its index in two halves and is gated
    * by the IDENTICAL oracle SQL. This is [[IndexFamily.append]] with
    * [[bm25Encoder]]; StreamingOps.streamingBm25Ingest is this
    * function under foreachBatch.
    */
  def appendBm25Postings(docs: org.apache.spark.sql.DataFrame,
      table: String, nBuckets: Int = 8, gen: Long = 0L): Unit =
    bm25Family(table).append(docs, gen, nBuckets)(bm25Encoder(table))

  /** BM25's encoder: the postings (token, doc_id, tf, dl) and the
    * `_docs` rows (doc_id, dl), both from the one persisted
    * [[tokenTf]] pass, postings first — a crash between the two writes
    * leaves postings the stats do not count yet, which fsck names and
    * repair heals. */
  private def bm25Encoder(table: String): IndexFamily.Encoder =
    IndexFamily.Encoder(tf => {
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      Seq(IndexFamily.Member(table, "token", tf.join(dl, "doc_id")
          .select(col("token"), col("doc_id"), col("tf"), col("dl"))),
        IndexFamily.Member(table + "_docs", "doc_id", dl))
    }, Some(tokenTf))

  /** DELETE documents from an incremental BM25 index: the family's
    * tombstone ([[IndexFamily.delete]]). The stats need no correction
    * — they are derived from the tombstone-filtered `_docs` rows — and
    * neither does df, which the probe counts over the tombstone-
    * filtered postings it fetches, so after a delete the probe is
    * BIT-IDENTICAL to one against an index built only from the
    * surviving documents (DeleteSpec). Folding the tombstones into the
    * files is [[vacuumIndex]]'s job.
    */
  def deleteBm25Docs(s: org.apache.spark.sql.SparkSession,
      table: String, ids: org.apache.spark.sql.DataFrame): Unit =
    bm25Family(table).delete(s, ids)

  /** UPSERT documents into an incremental BM25 index —
    * [[IndexFamily.upsert]] (a finite barrier for every incoming id,
    * then [[appendBm25Postings]] at it): the old versions' postings and
    * `_docs` rows die under the barrier, pure inserts just append, and
    * a terminally deleted id stays deleted (its new rows remain below
    * the terminal ceiling, in the stats as in the probe). `docs`
    * carries at most one version per doc_id (the CDC-compacted
    * contract every append path shares). Bit-parity with a
    * from-scratch build over the final corpus state — probes AND
    * stats, including the terminal-immunity leg — is gated in
    * UpsertSpec.
    */
  def upsertBm25Docs(s: org.apache.spark.sql.SparkSession,
      table: String, docs: org.apache.spark.sql.DataFrame): Unit =
    bm25Family(table).upsert(s, docs)(g =>
      appendBm25Postings(docs, table, gen = g))

  /** The tombstone-filtered serving view of an incremental BM25 index:
    * (live postings, stats) ready for [[bm25ScoreIncr]], the stats
    * derived from the live `_docs` rows ([[bm25Stats]]). With no
    * deletes the postings frame is the raw table scan — plans
    * unchanged. `statsTable` is unused: the stats are no longer
    * stored; the parameter stays because callers outside this source
    * tree pass it.
    */
  def liveBm25(s: org.apache.spark.sql.SparkSession, table: String,
      statsTable: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val f = bm25Family(table).frames(s)
    (f.member(table), bm25Stats(f.member(table + "_docs")))
  }

  /** Score (q_id, token) query terms against a BM25 family AS OF a
    * `<tag>` manifest snapshot WITHOUT restoring anything — the
    * audit-path probe (r17, VERDICT item 5): postings and the `_docs`
    * rows the stats derive from are the family's as-of
    * [[IndexFamily.frames]] (file-pinned and fold-anchor-aware), and
    * the arithmetic is the ONE shared scorer ([[bm25ScoreIncr]]) — so
    * the as-of score equals what a restored copy of the tag would
    * serve (AsOfProbeSpec gates value-parity). The plan is plain
    * parquet scans with a one-off Exchange — this is the AUDIT path
    * ("what did this query score last Tuesday"), not the serving
    * path; restore for serving. Refuses an unknown tag. */
  def scoreBm25AsOf(s: org.apache.spark.sql.SparkSession,
      table: String, tag: String,
      queryTerms: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val f = bm25Family(table).frames(s, Some(tag))
    bm25ScoreIncr(queryTerms, f.member(table),
      bm25Stats(f.member(table + "_docs")))
  }

  /** Score query terms against an INCREMENTAL index ([[
    * appendBm25Postings]]): identical output contract and arithmetic to
    * [[bm25Score]] — the idf/weight expressions are the same shared
    * Columns, df is count-per-token over the probed postings (exact:
    * the probe fetches every posting of each probed token), and
    * avgdl = sum_dl/n_docs mirrors the batch aggregate's ops. The df
    * rides in as a window over the probed rows, so the postings scan
    * happens ONCE per execution (a persist here would be useless — the
    * frame is returned lazily, so any unpersist would run before the
    * caller's action ever populated the cache).
    */
  private[graft] def bm25ScoreIncr(
      queryTerms: org.apache.spark.sql.DataFrame,
      postings: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // dedupe tokens BEFORE the probe: a token two queries share must
    // fetch (and count) once
    val toks = queryTerms.select("token").distinct()
    val fetched = toks.join(postings, "token")
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy("token")))
    val n = stats.select(col("n_docs"),
      (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    queryTerms.join(fetched, "token")
      .crossJoin(broadcast(n))
      .select(col("q_id"), col("doc_id"),
        (rationalIdf * okapiTfWeight).as("term"))
      .groupBy("q_id", "doc_id")
      .agg(Det.exactSum(col("term"), 6).as("score"))
  }

  /** The literal query set exploded to (q_id, token) terms — shared by
    * every q_bm25* probe so the query tokenization cannot drift. */
  private def bm25QueryTerms(s: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame =
    s.createDataFrame(Bm25Queries).toDF("q_id", "qtext")
      .select(col("q_id"), explode(split(col("qtext"), " ")).as("token"))

  /** Literal-token pre-filter for the postings scan (r19, optimization
    * guide §6 "PushedFilters should contain your predicates"): the
    * q_bm25* query set is a compile-time constant, so its distinct
    * tokens can ride the postings scan as an `In` predicate — pushed
    * into the parquet reader (dictionary/stats skipping) and eligible
    * for bucket pruning on the token-bucketed index table, instead of
    * reading every posting row and discarding non-matches at the join.
    * Semantically a no-op: the inner join on `token` kept exactly these
    * rows anyway (the window df derivation in the incr probe is
    * per-token over fetched postings, so it is unchanged by fetching
    * fewer tokens). The data-derived query sides (q_rrf's doc-as-query
    * leg, q_tfidf's all-docs read) can NOT use this — their token sets
    * are data, and collecting them to the driver to build a literal
    * predicate is the driver-round-trip the no-collect rule bans.
    */
  private def queryTokenFilter: org.apache.spark.sql.Column =
    col("token").isin(
      Bm25Queries.flatMap(_._2.split(" ")).distinct.sorted: _*)

  /** ONE presentation for every q_bm25* variant: the literal query set
    * exploded to broadcast (q_id, token) terms, handed to the variant's
    * scorer, then the deterministic top-10 cut (rank-capped window,
    * doc_id tiebreak). Three queries share the tie-break/top-k contract
    * — it must be impossible to change in fewer than all of them.
    */
  private def bm25TopK(s: org.apache.spark.sql.SparkSession,
      scoreOf: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val qt = bm25QueryTerms(s)
    val w = Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    scoreOf(broadcast(qt))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 10)
      .select(col("q_id"), col("doc_id"), col("score"),
        col("rn").cast("int").as("rn"))
  }

  /** Per-process index table token — ONE derivation for every stored
    * index table family ([[bm25Index]], [[bm25IndexIncr]], the ANN /
    * IVF / band-index families in Similarity and this file), kept in
    * lockstep with [[sweepDeadIndexes]]'s ownership regex: a format
    * drift between the name and the sweep pattern would orphan
    * directories from reclamation forever.
    */
  private[graft] def indexTableName(prefix: String, sfDir: String): String = {
    val pid = java.lang.ProcessHandle.current().pid()
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"${prefix}_${hex.take(10)}_p$pid"
  }

  /** THE memoized-index build dance, factored once (review r12: seven
    * hand-rolled copies had already drifted — bm25Index lacked the
    * crash marker, the schema-evolution hook existed only in
    * AnnIndex.annIndex): catalog-as-memo under the shared
    * [[bm25BuildLock]], `_ok` crash marker committing a build,
    * dead-pid sweep, drop + orphan-location clean of every member on
    * an incomplete build. `suffixes` are the sibling tables ("_vec",
    * "_cent", ...) that must exist for the index to count as built;
    * `complete` adds any extra validity check (schema evolution) and
    * runs only once the marker and all tables exist; `build` creates
    * the table and its siblings.
    */
  private[graft] def memoIndex(s: org.apache.spark.sql.SparkSession,
      prefix: String, sfDir: String, suffixes: Seq[String] = Nil,
      complete: String => Boolean = _ => true)
      (build: String => Unit): String = {
    val table = indexTableName(prefix, sfDir)
    val okTable = table + "_ok"
    withBuildLock(s) {
      sweepDeadIndexes(s)
      // heal any crashed maintenance swap BEFORE trusting the catalog:
      // a compaction (or retrain-swap) that died mid-swap must read as
      // "built" again via its surviving copy, not trigger a rebuild.
      // The GROUP heal runs FIRST (review r13): a refresh that died in
      // its phase-1 window leaves one member renamed out — per-member
      // recoverSwap alone would promote that member's NEW tmp while
      // keeping the partner's OLD copy, serving a mixed family (new
      // codewords scoring old codes) as complete
      healCrashedSwaps(s, table +: suffixes.map(table + _))
      val ok = s.catalog.tableExists(okTable) &&
        (table +: suffixes.map(table + _))
          .forall(s.catalog.tableExists) &&
        complete(table)
      if (!ok) {
        (table +: suffixes.map(table + _) :+ okTable).foreach { t =>
          s.sql(s"DROP TABLE IF EXISTS $t"); clearOrphanLocation(s, t)
        }
        build(table)
        val sp = s
        import sp.implicits._
        Seq(1).toDF("ok").write.mode("overwrite").saveAsTable(okTable)
      }
    }
    table
  }

  /** Memoized two-halves incremental build for `sfDir` (per process +
    * catalog, like [[bm25Index]]): documents split by doc_id parity,
    * each half appended as its own ingest batch — so every q_bm25_incr
    * verification exercises true append-maintenance, while reps within
    * a session pay only the probe. The memoIndex `_ok` marker commits
    * the build: a crash mid-build (half the corpus appended) can
    * never be served as complete — the next call drops the partial
    * tables and rebuilds. Returns (postings, stats).
    */
  private[graft] def bm25IndexIncr(s: org.apache.spark.sql.SparkSession,
      sfDir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val table = memoIndex(s, "graft_bm25_incr", sfDir, Seq("_docs")) { t =>
      val docs = Tables(s, sfDir, "documents")
      appendBm25Postings(docs.filter(pmod(col("doc_id"), lit(2)) === 0), t)
      appendBm25Postings(docs.filter(pmod(col("doc_id"), lit(2)) === 1), t)
    }
    liveBm25(s, table, "")
  }

  /** Build lock for [[bm25Index]] — serializes concurrent first-use
    * builds across threads (test suites run suites in parallel against
    * one JVM). The MEMO itself is the session catalog: we ask
    * `s.catalog.tableExists` inside the lock rather than keeping a
    * JVM-global built-set, because `saveAsTable` registers in the
    * session's catalog — a second SparkSession in the same JVM must
    * trigger its own build (or see the shared-catalog entry), never
    * skip-and-throw TABLE_OR_VIEW_NOT_FOUND (VERDICT r10 #5).
    *
    * DELIBERATELY one coarse monitor (review r13 weighed a per-table
    * keyed map): every maintenance op — builds, appends, swaps,
    * deletes, vacuums — nests through this lock with reentrancy
    * assumptions (memoIndex→append, upsert→tombstone,
    * refresh→swapIndexTableGroup), so a keyed map would need a
    * proven lock ORDER across those chains to stay deadlock-free.
    * The cost is in-JVM convoying of concurrent maintenance on
    * UNRELATED tables — acceptable because maintenance is rare and
    * cluster-side job time dominates the driver-side critical
    * section; if one-JVM ingest+serving concurrency ever becomes the
    * bottleneck, a striped lock keyed on the FAMILY base name (with
    * parent-before-child acquisition) is the refinement.
    */
  private[graft] val bm25BuildLock = new Object

  /** CROSS-PROCESS build lock (r14, VERDICT item 2): [[bm25BuildLock]]
    * serializes writers only within one JVM — two processes sharing a
    * warehouse could still race an append against a maintenance
    * swap's file-listing snapshot (exactly the in-process race the
    * r13 lock scope closed). Every maintenance critical section now
    * runs through [[withBuildLock]], which pairs the monitor with an
    * ATOMIC-CREATE LOCK FILE beside the warehouse
    * (`_graft_build.lock`, owner pid inside — path overridable via
    * the `graft.buildLock.path` session conf for test isolation):
    *   - the file is created on the outermost monitor entry and
    *     deleted on its exit (a holds counter keeps nested critical
    *     sections — memoIndex→append, delete→tombstone — reentrant);
    *   - a lock held by a DEAD pid is swept and retaken ONLY when
    *     the lock was minted on THIS host (r19, ADVICE #1: the lock
    *     body is `pid@hostHash` — pid liveness is only answerable on
    *     the minting host, exactly the epoch-pin lesson at
    *     [[isLeakedEpoch]]; a FOREIGN host's holder whose pid happens
    *     to be absent locally may be a live writer there, and
    *     sweeping it re-opens the read-modify-write race the lock
    *     exists to close). Foreign holders expire by an mtime TTL
    *     instead (`graft.buildLock.staleMs`, default 30 min —
    *     generously above any maintenance verb's hold). A lock whose
    *     body is not `pid@host` (empty or torn — a crash between
    *     create and pid write) older than 5 s counts as dead on any
    *     host;
    *   - a lock held by a LIVE foreign pid is waited on (100 ms
    *     polls) up to `graft.buildLock.timeoutMs` (default 30 000),
    *     then refused LOUDLY with the holder's pid — never silent
    *     file loss. A caller for whom FAILING is worse than waiting
    *     (a streaming micro-batch's audit-slice write blocked behind
    *     a long maintenance verb — r19, ADVICE #4) passes
    *     `waitMsOverride` to stretch the outermost acquire without
    *     touching the session-wide default.
    * Local-FS `create(overwrite=false)` is check-then-create rather
    * than truly atomic; the residual two-process window is
    * microseconds against maintenance sections measured in seconds,
    * and a real deployment's object-store/HDFS create IS atomic.
    */
  private var buildLockHolds = 0

  /** Session knob pinned FALSE for the duration of every maintenance
    * critical section (r19): the session-wide
    * canChangeCachedPlanOutputPartitioning=true lets AQE re-partition
    * cached plans — right for probe queries (tiny persisted frames stop
    * pinning 32 near-empty partitions), WRONG for maintenance writes,
    * where the part-file layout of a bucketed append must be a
    * deterministic function of the batch, not of AQE's view of a cached
    * prep frame: an append window that plans one extra write task
    * doubles the part-files, and with it the bytes every differential
    * backup of that window copies forever after (DiffBackupSpec /
    * StreamDiffBackupSpec / StorageBreakdownSpec gate the byte
    * accounting). Pinned on the OUTERMOST lock entry, restored on exit
    * — the same brief session-global-conf discipline as the
    * connectedComponents loop.
    */
  private val CachedPlanKnob =
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
  private var cachedPlanKnobPrior: Option[String] = None

  private[graft] def withBuildLock[T](
      s: org.apache.spark.sql.SparkSession,
      waitMsOverride: Option[Long] = None)(body: => T): T =
    bm25BuildLock.synchronized {
      // the override only matters on the OUTERMOST entry — nested
      // sections already hold the file and never re-acquire
      if (buildLockHolds == 0) {
        acquireProcessLock(s, waitMsOverride)
        cachedPlanKnobPrior = s.conf.getOption(CachedPlanKnob)
        s.conf.set(CachedPlanKnob, "false")
      }
      buildLockHolds += 1
      try body
      finally {
        buildLockHolds -= 1
        if (buildLockHolds == 0) {
          cachedPlanKnobPrior match {
            case Some(v) => s.conf.set(CachedPlanKnob, v)
            case None => s.conf.unset(CachedPlanKnob)
          }
          cachedPlanKnobPrior = None
          releaseProcessLock(s)
        }
      }
    }

  private def processLockPath(s: org.apache.spark.sql.SparkSession) =
    new org.apache.hadoop.fs.Path(
      s.conf.getOption("graft.buildLock.path").getOrElse(
        s.conf.get("spark.sql.warehouse.dir") + "/_graft_build.lock"))

  /** Parse a lock file body `pid@hostHash` into (pid, minted on
    * this host). None for any other body — empty, torn, or without
    * a host — which the acquirer retires after the write grace. */
  private[graft] def parseLockHolder(txt: String)
      : Option[(Long, Boolean)] = txt.trim.split('@') match {
    case Array(pid, host) =>
      scala.util.Try(pid.toLong).toOption.map(p => (p, host == hostHash))
    case _ => None
  }

  /** The file system the lock file is created, read, stated and
    * deleted through: the raw one under a checksummed local FS. A lock
    * body is a few bytes rewritten under contention, and a `.crc`
    * sibling read mid-rewrite only makes Hadoop log a spurious
    * `FSInputChecker` EOF stack per contended poll. */
  private def lockFs(s: org.apache.spark.sql.SparkSession,
      p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration) match {
      case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
      case fs => fs
    }

  private def acquireProcessLock(
      s: org.apache.spark.sql.SparkSession,
      waitMsOverride: Option[Long] = None): Unit = {
    val p = processLockPath(s)
    val fs = lockFs(s, p)
    val timeoutMs = waitMsOverride.getOrElse(
      s.conf.getOption("graft.buildLock.timeoutMs")
        .map(_.toLong).getOrElse(30000L))
    val staleMs = s.conf.getOption("graft.buildLock.staleMs")
      .map(_.toLong).getOrElse(1800000L)
    val deadline = System.currentTimeMillis() + timeoutMs
    val me = java.lang.ProcessHandle.current().pid()
    var acquired = false
    while (!acquired) {
      val created =
        try {
          val out = fs.create(p, false)
          try out.write(s"$me@$hostHash".getBytes("UTF-8"))
          finally out.close()
          true
        } catch { case _: java.io.IOException => false }
      if (created) acquired = true
      else {
        val holder: Option[(Long, Boolean)] =
          try {
            val in = fs.open(p)
            val txt = try new String(
                org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
                "UTF-8")
              finally in.close()
            parseLockHolder(txt)
          } catch { case scala.util.control.NonFatal(_) => None }
        val dead = holder match {
          case Some((pid, true)) => // minted HERE: pid is answerable
            !java.lang.ProcessHandle.of(pid).isPresent
          case Some(_) =>
            // FOREIGN host (r19, ADVICE #1): its pid table is not
            // ours — a locally-absent pid may be a live writer
            // there. Only an mtime TTL retires it; a genuinely live
            // long holder past staleMs is the operator-visible
            // refusal below, never a silent sweep-and-race.
            (try System.currentTimeMillis() -
              fs.getFileStatus(p).getModificationTime > staleMs
            catch { case scala.util.control.NonFatal(_) => true })
          case None => // not pid@host: dead once past the write grace
            (try System.currentTimeMillis() -
              fs.getFileStatus(p).getModificationTime > 5000L
            catch { case scala.util.control.NonFatal(_) => true })
        }
        if (dead) { try { fs.delete(p, false); () }
          catch { case scala.util.control.NonFatal(_) => () } }
        else if (holder.exists { case (pid, same) => same && pid == me })
          acquired = true // our own crashed leftover
        else if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(
            s"build lock $p is held by live process " +
              s"${holder.map(_._1).getOrElse(-1L)} — a second " +
              "writer on this warehouse; refusing rather than racing " +
              s"its maintenance (waited ${timeoutMs}ms; raise " +
              "graft.buildLock.timeoutMs to wait longer)")
        else Thread.sleep(100)
      }
    }
  }

  private def releaseProcessLock(
      s: org.apache.spark.sql.SparkSession): Unit = {
    val p = processLockPath(s)
    try {
      lockFs(s, p).delete(p, false); ()
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** True iff `e` (or anything in its cause chain) is one of the THREE
    * failures a maintenance swap can inject into a concurrent probe:
    * the table name unbound in the rename-out window, the probe's
    * snapshotted file listing pointing into the dropped `_old`
    * location, or a [[SwapRaceException]] from [[consistentProbe]]'s
    * fingerprint validation (the SILENT variant — see there). Anything
    * else — analysis errors, OOM, a genuinely missing index — is NOT
    * transient and must propagate. */
  private def maintenanceTransient(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .exists {
        case _: java.io.FileNotFoundException => true
        case _: SwapRaceException => true
        case t => Option(t.getMessage).exists(m =>
          m.contains("TABLE_OR_VIEW_NOT_FOUND") ||
            m.contains("FileNotFoundException") ||
            // a PATH-based reader (a foreign process probing another
            // process's family directory — ForkedProcessSpec's shape)
            // sees the swap's rename window as a missing path, not a
            // missing catalog table
            m.contains("PATH_NOT_FOUND"))
      }

  /** Run a probe with bounded retries across maintenance-swap windows
    * — the serving-side companion of [[compactIndex]]'s contract
    * ("concurrent direct probes during maintenance can transiently
    * fail and should retry"). `body` must BUILD AND EXECUTE the probe
    * (build-only would re-throw at the caller's action, outside the
    * retry); on a [[maintenanceTransient]] failure the family's
    * `tables` are refreshed (dropping the stale file-listing cache
    * the failed plan snapshotted) and the thunk re-runs after a
    * linear backoff. Non-transient failures and the final attempt's
    * failure propagate unchanged. The swap keeps a complete
    * catalog-registered copy at every instant, so one re-plan after
    * the swap commits always succeeds — `attempts` only needs to
    * cover back-to-back maintenance ops.
    */
  def retryingProbe[T](s: org.apache.spark.sql.SparkSession,
      tables: Seq[String], attempts: Int = 4,
      backoffMs: Long = 100L)(body: => T): T = {
    require(attempts >= 1, "attempts must be >= 1")
    var i = 0
    while (true) {
      try return body
      catch {
        case scala.util.control.NonFatal(e)
            if i < attempts - 1 && maintenanceTransient(e) =>
          i += 1
          Thread.sleep(backoffMs * i)
          tables.foreach { t =>
            try if (s.catalog.tableExists(t)) s.catalog.refreshTable(t)
            catch { case scala.util.control.NonFatal(_) => () }
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** A maintenance swap raced a probe between its fingerprint reads —
    * classified [[maintenanceTransient]], so [[retryingProbe]] and
    * [[consistentProbe]] re-plan instead of propagating. */
  private[graft] final class SwapRaceException(msg: String)
    extends RuntimeException(msg)

  /** (table → current (path, len) data-file set) for the probe's
    * fingerprint reads. The read itself can land inside the swap's
    * rename window, and an empty fingerprint taken THERE would make
    * the before ⊆ after check pass vacuously around an empty probe —
    * the very hole consistentProbe closes. The mid-swap state is
    * DISTINGUISHABLE: the catalog entry exists but its location
    * directory does not (ALTER TABLE RENAME moves dir with metadata,
    * so a registered table with a missing dir is rename-in-flight) —
    * that, or a metadata read blowing up under a concurrent
    * drop/rename, throws [[SwapRaceException]] so the retry loop
    * settles. A table MISSING from the catalog maps to the empty set:
    * a genuinely absent family must surface as the probe body's own
    * clear table-not-found, not as a misleading race message. */
  private def probeFingerprint(s: org.apache.spark.sql.SparkSession,
      tables: Seq[String]): Map[String, Set[(String, Long)]] =
    tables.map { t =>
      t -> (try {
        if (!s.catalog.tableExists(t)) Set.empty[(String, Long)]
        else {
          val loc = tableLocation(s, t)
          val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (!fs.exists(loc))
            throw new SwapRaceException(
              s"$t: registered but its location is absent — the " +
                "swap's rename window; re-planning")
          listFilesUnder(s, loc).toSet
        }
      } catch {
        case e: SwapRaceException => throw e
        case scala.util.control.NonFatal(e) =>
          throw new SwapRaceException(
            s"$t: fingerprint read failed mid-swap (${e.getClass
              .getSimpleName}) — re-planning")
      })
    }.toMap

  /** [[retryingProbe]] hardened against the swap's THIRD — and only
    * SILENT — failure mode: a probe that resolves the table before a
    * swap's rename-out but lists files inside the rename window scans
    * an absent directory, which some listings report as EMPTY rather
    * than missing — the probe then "succeeds" with rows silently
    * dropped (zero, for a single-table scan) and no exception for the
    * retry loop to classify (found live: a serving stream returned
    * empty top-k while three compactions raced it).
    *
    * The fix is an optimistic-concurrency read: list each family
    * table's (path, len) data files BEFORE the probe, materialize the
    * probe's frame (localCheckpoint — the probe executes HERE, inside
    * the retry scope), list again, and require every pre-read file to
    * still exist. Data files are immutable once written, so
    * before ⊆ after proves no file the scan could have planned over
    * vanished mid-read — the materialized rows are complete and
    * consistent. Pure appends (before ⊂ after) pass — an ingesting
    * family must not livelock its own serving path; only a REWRITE
    * (compact/vacuum/swap/restore) retries. Cost: two O(metadata)
    * listings per probe — the price of an exactly-once read over a
    * mutable file layout without a transaction log.
    *
    * Returns the MATERIALIZED frame: callers write/collect it without
    * rescanning the index, so the validation covers everything
    * downstream sees.
    */
  def consistentProbe(s: org.apache.spark.sql.SparkSession,
      tables: Seq[String], attempts: Int = 4, backoffMs: Long = 100L)
      (body: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    retryingProbe(s, tables, attempts, backoffMs) {
      val before = probeFingerprint(s, tables)
      val staged = body.localCheckpoint(true)
      val after = probeFingerprint(s, tables)
      val vanished = before.collect {
        case (t, fs0) if !fs0.subsetOf(after.getOrElse(t, Set.empty)) =>
          t
      }
      if (vanished.nonEmpty) {
        // release the checkpoint's materialized blocks before the
        // retry — abandoned staged frames otherwise linger until the
        // ContextCleaner gets to them, unbounded transient storage
        // pressure for probes retried under heavy rewrite churn
        // (r18, ADVICE). Through the LogicalRDD: Dataset.unpersist is
        // a CacheManager call and silently no-ops on checkpoint
        // blocks (late r18 — the full suite caught the first fix
        // doing exactly that)
        unpersistCheckpoint(staged)
        throw new SwapRaceException(
          s"probe raced a maintenance rewrite of ${vanished.mkString(", ")}" +
            " (files vanished mid-read) — re-planning")
      }
      staged
    }

  /** One-shot-per-JVM sweep of DEAD processes' leftover index
    * locations: the per-process table token (see [[bm25Index]]) makes
    * cross-process deletion races impossible, but it also means every
    * exited JVM strands its index directory in the shared warehouse
    * forever. A directory matching the token pattern whose pid no
    * longer exists can have no owner, so the first build in this JVM
    * reclaims them (best-effort; pid-recycling keeps a dir alive, which
    * only costs its disk until the recycled pid also dies).
    */
  /** The ownership pattern [[sweepDeadIndexes]] deletes under: every
    * memoized index family's base name + pid, with zero-or-MORE
    * sibling suffixes — suffixes STACK (maintenance tmps like
    * `_cb_compact` / `_cent_compact` and their `_old` backups from a
    * crashed PqIndex/IvfIndex.refresh), so a dead process's refresh
    * leftovers are swept like any other sibling. Spec-pinned in
    * IvfRefreshSpec so the pattern and the maintenance naming can't
    * drift apart silently.
    */
  private[graft] val ownedIndexRe =
    ("^graft_(?:bm25_(?:idx|incr)|ann_idx|ivf_idx|pq_idx|band_incr" +
      "|sdd_idx|bq_idx|sq_idx|remq)" +
      "_[0-9a-f]{10}_p([0-9]+)" +
      "(?:_docs|_ok|_ledger|_vec|_cent|_cb|_ck|_compact|_old|_cfg|_swap|_del" +
      "|_f|_band|_bm25|_hashes|_quarantine|_admission|_hold)*$").r

  private var sweptDeadIndexes = false
  private[graft] def sweepDeadIndexes(
      s: org.apache.spark.sql.SparkSession): Unit =
    // reentrant from bm25Index/bm25IndexIncr (same monitor); the lock
    // makes the flag's read-then-set safe for direct callers too — an
    // unsynchronized flag write would race parallel suites' builds
    bm25BuildLock.synchronized { if (!sweptDeadIndexes) {
      sweptDeadIndexes = true
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
      val ownedRe = ownedIndexRe
      if (fs.exists(wh)) fs.listStatus(wh).foreach { st =>
        st.getPath.getName match {
          case ownedRe(pid)
              if !java.lang.ProcessHandle.of(pid.toLong).isPresent =>
            fs.delete(st.getPath, true); ()
          case _ => ()
        }
      }
    } }

  /** Test hook: re-arm and re-run the sweep under the build lock (the
    * flag is private so no test can touch it unsynchronized).
    */
  private[graft] def resweepForTest(
      s: org.apache.spark.sql.SparkSession): Unit =
    bm25BuildLock.synchronized {
      sweptDeadIndexes = false
      sweepDeadIndexes(s)
    }

  /** The stored postings index for `sfDir`'s documents table, built on
    * first use per catalog (idempotent, synchronized — test suites share
    * one session). Batch q_bm25 and StreamingOps.streamingBm25 both read
    * THIS table, so the serving path is the production shape: a bucketed
    * scan probed by the query terms, corpus-scan-free per query.
    *
    * The table name carries a PER-PROCESS token alongside the sfDir
    * hash: the warehouse directory (${tmpdir}/graft_warehouse) is
    * shared by every JVM on the box, so a pure sfDir-keyed name would
    * let process B's clearOrphanLocation delete the directory process
    * A is actively probing (B's fresh catalog has no entry for it —
    * review finding r11). Distinct names make cross-process collision
    * impossible; within a process the catalog memo still gives
    * build-once/probe-many. At 100 TB the index lives in a real
    * catalog + object store and is shared deliberately — the token is
    * a local-warehouse artifact.
    */
  private[graft] def bm25Index(s: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame =
    // the memoIndex refactor also gave this oldest builder the `_ok`
    // crash marker it predated: a build that died mid-saveAsTable used
    // to leave a partial table the memo would happily serve
    s.table(memoIndex(s, "graft_bm25_idx", sfDir) { t =>
      writeBm25Index(Tables(s, sfDir, "documents"), t)
    })

  /** The ONE scoring definition (Okapi tf saturation k1=1.2, b=0.75;
    * log-free rational idf — exp-scale, see the q_bm25 QDef comment for
    * the documented deviation) shared by batch q_bm25 and
    * StreamingOps.streamingBm25 — stream and batch scoring cannot
    * drift. `queryTerms` is (q_id, token);
    * output is (q_id, doc_id, score) with the per-doc score summed as
    * integer micro-units (Det.exactSum — accumulation-order-free). The
    * term weight keeps the IDENTICAL association order to the q_bm25
    * oracle SQL: doubles are IEEE-deterministic only if both engines run
    * the SAME ops.
    */
  /** Rational (exp-scale, log-free) idf — see the q_bm25 QDef comment
    * for the documented deviation from textbook ln-idf.
    */
  private def rationalIdf: org.apache.spark.sql.Column =
    (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))

  /** Okapi tf saturation, k1=1.2, b=0.75 — the factor BOTH idf variants
    * share. Association order is part of the q_bm25 oracle contract.
    */
  private def okapiTfWeight: org.apache.spark.sql.Column =
    (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) *
        (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl")))

  private def scoreWith(idf: org.apache.spark.sql.Column,
      queryTerms: org.apache.spark.sql.DataFrame,
      postings: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    queryTerms.join(postings, "token")
      .select(col("q_id"), col("doc_id"),
        (idf * okapiTfWeight).as("term"))
      .groupBy("q_id", "doc_id")
      .agg(Det.exactSum(col("term"), 6).as("score"))

  private[graft] def bm25Score(queryTerms: org.apache.spark.sql.DataFrame,
      postings: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    scoreWith(rationalIdf, queryTerms, postings)

  /** Textbook ln-idf Okapi BM25 (VERDICT r09 #4) over the SAME stored
    * postings as [[bm25Score]] — one index, two scorers. Multi-term
    * rankings can genuinely diverge from the rational-idf variant
    * (RetrievalSpec pins a case): ln compresses the rare-term advantage,
    * and common terms with df ≥ n/2 contribute ≤ 0. Not oracle-hashed:
    * ln() is a libm transcendental whose last ulp may differ between
    * DuckDB and the JVM (the same reasoning that keeps log out of
    * q_tfidf/q_pmi), so q_bm25_ln ships with a rows-only driver check
    * plus a micro-unit-exact driver-side reference in RetrievalSpec.
    */
  private[graft] def bm25ScoreLn(queryTerms: org.apache.spark.sql.DataFrame,
      postings: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    scoreWith(log(rationalIdf), queryTerms, postings)

  /** The USER-facing textbook ln-idf ranking — the literal queries'
    * top-10 by precise ln score over the stored index. This is what a
    * consumer asking for "real BM25" runs; it is exercised and pinned
    * by RetrievalSpec's micro-unit-exact driver-side reference. The
    * registered q_bm25_ln emits the ORACLE-CHECKABLE verification twin
    * instead (whole-bits bracket + within-bracket verdict — see the
    * QDef), because a precise libm ln cannot sit in a hash-gated
    * column.
    */
  def bm25LnRanked(s: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame =
    bm25TopK(s, qt => bm25ScoreLn(qt, bm25Index(s, sfDir)))

  /** Distinct whitespace tokens of `text` (package-visible: the hybrid
    * retrieval QDef in Similarity derives its doc-as-query token sets
    * with the IDENTICAL expression). */
  private[graft] val toksExpr = "array_distinct(split(trim(text), '\\\\s+'))"
  private[graft] val toksSql = "list_distinct(string_split_regex(trim(text), '\\s+'))"

  /** Stopword-hit language scores — ONE definition per engine, shared
    * by q_lang_id and the q_curate pipeline's language gate (a
    * diverging copy would let the gate drift from the classifier it
    * claims to apply). Scores count which of a language's 3 marker
    * words appear space-delimited in the text.
    */
  private[graft] val LangWords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"), "fr" -> Seq("le", "la", "et"),
    "es" -> Seq("el", "y", "de"), "de" -> Seq("der", "und", "das"))

  private[graft] def langScore(text: Column, ws: Seq[String]): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    ws.map(w => when(padded.contains(s" $w "), 1).otherwise(0))
      .reduce(_ + _)
  }

  private[graft] def langScoreSql(ws: Seq[String]): String =
    ws.map(w =>
      s"(CASE WHEN ' ' || text || ' ' LIKE '% $w %' THEN 1 ELSE 0 END)")
      .mkString(" + ")

  /** The quality keep-rule (q_quality's "good" class), factored for the
    * same shared-definition reason: ≥30 tokens and >0.25 distinct-token
    * ratio. Callers supply the n_tok / n_uniq expressions (both engines
    * derive them from the same split/distinct definitions above).
    */
  private[graft] def qualityGate(nTok: Column, nUniq: Column): Column =
    nTok >= 30 && nUniq.cast("double") / nTok > 0.25

  private[graft] def qualityGateSql(nTok: String, nUniq: String): String =
    s"$nTok >= 30 AND CAST($nUniq AS DOUBLE) / $nTok > 0.25"

  /** Word 3-gram shingles. Spark side: the custom single-pass
    * graft_shingles expression (graft.functions.Shingles) — the HOF
    * transform/slice/concat_ws chain is interpreted and allocation-heavy.
    * DuckDB oracle keeps the declarative list comprehension; both yield
    * [] below 3 tokens.
    */
  // package-visible: TrainingData's shingle oracles (q_contamination,
  // q_repetition) must emit the IDENTICAL comprehension — a diverging
  // copy would silently break their parity with graft_shingle_set
  private[operators] val shSql = "[array_to_string(rawtoks[i:i+2], ' ') " +
    "for i in generate_series(1, len(rawtoks) - 2)]"

  /** MinHash lanes: one md5 per shingle, the 128-bit digest sliced into
    * four 8-hex-char lanes, min per lane — fused into the custom
    * graft_minhash_lanes expression on the Spark side (4 hashes for the
    * price of 1, no intermediate arrays). md5 is the one hash both
    * engines implement identically on UTF-8.
    */
  private def mhExpr(i: Int) = s"element_at(lanes, $i)"
  private def mhSql(i: Int) =
    s"list_min(list_transform(hs, h -> substr(h, ${(i - 1) * 8 + 1}, 8)))"
  private val hsSql = "list_transform(sh, x -> md5(x))"

  private val sigSql =
    s"WITH t AS (SELECT doc_id, $toksSql AS toks, " +
      "string_split_regex(trim(text), '\\s+') AS rawtoks FROM documents), " +
      s"s AS (SELECT doc_id, toks, $shSql AS sh FROM t), " +
      s"h AS (SELECT doc_id, toks, $hsSql AS hs FROM s), " +
      "g AS (SELECT doc_id, toks, " +
      s"md5(${mhSql(1)} || ${mhSql(2)}) AS band1, " +
      s"md5(${mhSql(3)} || ${mhSql(4)}) AS band2 FROM h)"

  /** ONE oracle for both new-vs-corpus near-dup queries —
    * q_dedup_incremental (inline recompute) and q_dedup_idx
    * (append-maintained stored index) are gated by this identical SQL,
    * which is itself the statement of the incremental path's
    * correctness: however the corpus side was built, the pair set
    * hash-matches a from-scratch computation.
    */
  private lazy val dedupIncrOracleSql: String =
    sigSql +
      ", nw AS (SELECT * FROM g " +
      "WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) >= " +
      s"'${graft.operators.TrainingData.TrainBoundary}'), " +
      "ex AS (SELECT * FROM g " +
      "WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < " +
      s"'${graft.operators.TrainingData.TrainBoundary}'), " +
      "c AS (" +
      "SELECT nw.doc_id AS new_id, ex.doc_id AS old_id, " +
      "nw.toks AS ntoks, ex.toks AS etoks FROM nw JOIN ex " +
      "ON nw.band1 = ex.band1 " +
      "UNION " +
      "SELECT nw.doc_id, ex.doc_id, nw.toks, ex.toks FROM nw JOIN ex " +
      "ON nw.band2 = ex.band2) " +
      "SELECT new_id, old_id, " +
      "CAST(len(list_intersect(ntoks, etoks)) AS DOUBLE) / " +
      "(len(ntoks) + len(etoks) - len(list_intersect(ntoks, etoks))) " +
      "AS jaccard FROM c WHERE CAST(len(list_intersect(ntoks, etoks)) " +
      "AS DOUBLE) / (len(ntoks) + len(etoks) - " +
      "len(list_intersect(ntoks, etoks))) >= 0.5"

  /** (doc_id, toks, band1, band2) for any documents-shaped frame —
    * stateless per-row expressions, so it works identically on a STREAM
    * (StreamingOps.streamingNearDedup computes the same signatures on
    * arriving micro-batches). The session must hold graft's functions
    * (see [[graft.GraftSession]]).
    */
  private[graft] def sigWithToks(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .withColumn("lanes", expr("graft_minhash_lanes(text)"))
      .select(col("doc_id"), expr(toksExpr).as("toks"),
        md5(concat(expr(mhExpr(1)), expr(mhExpr(2)))).as("band1"),
        md5(concat(expr(mhExpr(3)), expr(mhExpr(4)))).as("band2"))

  /** (repartitioned docs, persisted (doc_id, band1, band2) signatures) —
    * the band index both the self-join (bandCandidates) and the
    * incremental new-vs-corpus join (q_dedup_incremental) block on.
    */
  private def bandSignatures(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val docs = Tables(s, d, "documents").repartition(col("doc_id"))
    val bands = sigWithToks(docs).drop("toks").persist()
    (docs, bands)
  }

  /** Shared MinHash band-blocking machinery for the near-dup queries:
    * returns the repartitioned documents frame (the single-file source
    * otherwise yields ONE partition for the per-doc hashing) and the
    * distinct band-collision candidate id pairs (a_id < b_id). Only the
    * narrow (id, band, band) signature is persisted — caching the heavy
    * token/shingle arrays costs more in columnar encoding than
    * recomputing them for the (tiny) candidate fetch — and candidates
    * travel as ids only, so the arrays never fan out through the joins.
    */
  private def bandCandidates(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val (docs, bands) = bandSignatures(s, d)
    val a = bands.select(col("doc_id").as("a_id"), col("band1"),
      col("band2"))
    val b = bands.select(col("doc_id").as("b_id"),
      col("band1").as("bb1"), col("band2").as("bb2"))
    val c1 = a.join(b, col("band1") === col("bb1") &&
      col("a_id") < col("b_id")).select("a_id", "b_id")
    val c2 = a.join(b, col("band2") === col("bb2") &&
      col("a_id") < col("b_id")).select("a_id", "b_id")
    (docs, c1.union(c2).distinct())
  }

  /** r19 verify-stage note (optimization round, experiment recorded):
    * the exact-Jaccard verification tokenizes the WHOLE corpus on both
    * join sides even though only candidate-pair docs are read. A
    * candidate-pruned variant (semi-join the corpus against the
    * exploded candidate ids, tokenize survivors once, persist the tiny
    * feature frame, join it on both sides) was built, oracle-verified,
    * and MEASURED WORSE at sf0.1 — interleaved min-of-5: q_dedup_near
    * 0.63 s (this fused shape) vs 0.98 s (pruned): the extra
    * evaluation of the candidate pipeline for the id set, the
    * explode+distinct exchange, and the persist barrier cost more than
    * two corpus tokenization passes until the corpus dwarfs the
    * candidate machinery. Tokenizing ABOVE the joins (probe first,
    * tokenize survivors in the projection) is blocked by
    * CollapseProject: the token expressions would be inlined into
    * every consumer (the q_ntile 3× lesson). The at-scale answer is
    * not this recompute shape at all but the STORED band index
    * ([[writeBandIndex]] / nearDupsAgainstIndex, q_dedup_idx), whose
    * rows carry the token arrays — a 100 TB ingest never re-tokenizes
    * the corpus at probe time.
    */

  /** Slot-prefixed exploded band-index rows for any documents-shaped
    * frame: one row per (band_key, id, toks), band_key = "1"+band1 /
    * "2"+band2. The slot prefix keeps band1 matching only band1 — a
    * positionless key would admit cross-band collisions
    * (new.band1 == old.band2), a strictly broader candidate set than
    * the per-band equi-joins (the r8 streaming self-review finding).
    * This is the ONE definition of the index key shape: the stored
    * corpus index ([[writeBandIndex]]), the batch join against it, and
    * the streaming twin all build on it, so the shape cannot drift.
    */
  private[graft] def bandIndexRows(docs: org.apache.spark.sql.DataFrame,
      idAs: String, toksAs: String): org.apache.spark.sql.DataFrame = {
    sigWithToks(docs).select(
      explode(array(
        concat(lit("1"), col("band1")),
        concat(lit("2"), col("band2")))).as("band_key"),
      col("doc_id").as(idAs), col("toks").as(toksAs))
  }

  /** Materialize a corpus's MinHash band index as a BUCKETED table
    * (bucketed + sorted by band_key) — the stored form the incremental
    * ingest path assumes (q_dedup_incremental's doc; VERDICT r08 #3).
    * Bucketing on the join key is the whole point: the index shuffles
    * ONCE here at write/maintain time, and every subsequent new-batch
    * join reads it as a bucketed scan with NO Exchange on the corpus
    * side — each ingest batch shuffles only itself (gated in
    * BandIndexSpec). Tokens ride IN the index rows (a posting-list
    * payload denormalization, 2 rows per doc): exact-Jaccard
    * verification reads both token sets off the joined row, so a batch
    * costs O(|batch| + collisions) with no second corpus-wide join.
    */
  def writeBandIndex(docs: org.apache.spark.sql.DataFrame, table: String,
      nBuckets: Int = 8): Unit =
    bandFamily(table).rebuild(docs, nBuckets)(bandEncoder(table))

  /** APPEND-ONLY maintenance for the MinHash band index (VERDICT r11
    * #6) — the q_bm25_incr treatment for dedup: every index row
    * (band_key, old_id, old_toks) is DOC-LOCAL (signatures depend only
    * on the document's own text, never on corpus statistics), so a new
    * ingest batch simply appends its exploded band rows to the bucketed
    * table — nothing already stored is ever rewritten, no corpus stats
    * needed, per-batch cost O(batch). An index grown by appends is
    * row-identical to a from-scratch [[writeBandIndex]] build over the
    * union (gated in BandIndexSpec), so document ingest and near-dedup
    * share ONE maintained index. Same per-process-unique-name contract
    * as every builder here ([[clearOrphanLocation]]).
    */
  def appendBandIndex(docs: org.apache.spark.sql.DataFrame, table: String,
      nBuckets: Int = 8, gen: Long = 0L): Unit =
    bandFamily(table).append(docs, gen, nBuckets)(bandEncoder(table))

  /** The band index's encoder: each document's slot-prefixed band rows
    * ([[bandIndexRows]]), stored as (band_key, old_id, old_toks). */
  private def bandEncoder(table: String): IndexFamily.Encoder =
    IndexFamily.Encoder(d => Seq(IndexFamily.Member(table, "band_key",
      bandIndexRows(d, "old_id", "old_toks"))))

  /** Memoized APPEND-BUILT corpus band index for `sfDir` (the
    * [[bm25IndexIncr]] contract: per process + catalog, `_ok` marker
    * commits the build, dead-pid sweep, shared build lock): the
    * EXISTING corpus — documents below the train boundary, the "old"
    * side of q_dedup_incremental — is ingested as two append batches
    * split by doc_id parity, so every verification of the probing
    * query exercises true append maintenance. Returns the postings
    * frame.
    */
  private[graft] def bandIndexIncr(s: org.apache.spark.sql.SparkSession,
      sfDir: String): org.apache.spark.sql.DataFrame =
    liveBandIndex(s, memoIndex(s, "graft_band_incr", sfDir) { t =>
      val bound = graft.operators.TrainingData.TrainBoundary
      val bucket = graft.operators.TrainingData
        .hashPrefixOf(col("doc_id"), 2)
      val old = Tables(s, sfDir, "documents").filter(bucket < bound)
      appendBandIndex(old.filter(pmod(col("doc_id"), lit(2)) === 0), t)
      appendBandIndex(old.filter(pmod(col("doc_id"), lit(2)) === 1), t)
    })

  /** UPSERT documents into a stored band index —
    * [[IndexFamily.upsert]] for the near-dup family (barrier +
    * append): the incoming ids' old
    * signatures stop colliding, the batch's new signatures start, pure
    * inserts just append. O(batch).
    */
  def upsertBandDocs(s: org.apache.spark.sql.SparkSession,
      table: String, docs: org.apache.spark.sql.DataFrame): Unit =
    bandFamily(table).upsert(s, docs)(g =>
      appendBandIndex(docs, table, gen = g))

  /** The tombstone-filtered serving view of a stored band index —
    * hand this to [[nearDupsAgainstIndex]] (it takes a frame, so the
    * filter composes without touching the probe definition). No
    * deletes → the raw table scan, plans unchanged.
    */
  def liveBandIndex(s: org.apache.spark.sql.SparkSession,
      table: String): org.apache.spark.sql.DataFrame =
    bandFamily(table).frames(s).member(table)

  /** Near-dup pairs of `newDocs` against a stored (band_key, old_id,
    * old_toks) index frame (spark.table of a [[writeBandIndex]] table,
    * or any frame of that shape): the new batch explodes to its
    * slot-prefixed band keys, equi-joins the index on band_key, exact
    * token-Jaccard verifies collisions, and duplicate pairs (both
    * bands colliding) collapse to one row. Identical semantics to
    * q_dedup_incremental's self-contained form. Works unchanged on a
    * STREAMING `newDocs` (stateless signatures + stream-static join;
    * the dropDuplicates becomes the streaming state) —
    * StreamingOps.streamingNearDedup is this function over a file
    * stream.
    */
  def nearDupsAgainstIndex(newDocs: org.apache.spark.sql.DataFrame,
      index: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val nw = bandIndexRows(newDocs, "new_id", "new_toks")
    nw.join(index, "band_key")
      .select(col("new_id"), col("old_id"),
        jaccard(col("new_toks"), col("old_toks")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .dropDuplicates("new_id", "old_id")
  }

  /** [[nearDupsAgainstIndex]] AS OF a `<tag>` manifest snapshot
    * WITHOUT restoring anything — the seventh stored family's as-of
    * probe (r17): "was this batch a near-dup of the corpus at cut
    * time" is the training-data provenance question a contamination
    * audit asks, and it must be answered against the index AS IT
    * STOOD, not today's (documents upserted since the tag must
    * neither collide nor mask). The band rows are the family's as-of
    * [[IndexFamily.frames]]; the probe pipeline is the ONE live
    * definition, so parity with a restored copy holds by construction
    * (AsOfProbeSpec gates it). Audit path, not the serving path.
    */
  def nearDupsAsOf(s: org.apache.spark.sql.SparkSession,
      table: String, tag: String,
      newDocs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    nearDupsAgainstIndex(newDocs,
      bandFamily(table).frames(s, Some(tag)).member(table))

  /** Exact set-overlap verification used by every near-dup candidate
    * check — ONE definition (shared with the QDefs below) so the
    * formula cannot drift between the batch, incremental, streaming,
    * and cluster paths that all promise identical semantics.
    */
  private[graft] def intersectSize(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    call_function("graft_intersect_size", a, b)

  private[graft] def jaccard(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val inter = intersectSize(a, b)
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** Unigram-LM surprisal scoring over any documents-shaped frame — the
    * q_surprisal body, extracted so the property tests can feed
    * modified corpora (doc-concatenation additivity) and a driver-side
    * reference can recompute it. See the QDef comment for the
    * whole-bit/integer-exactness and scale reasoning.
    */
  private[graft] def surprisal(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    surprisalFromTf(tokenTf(docs))

  /** Surprisal from pre-computed (doc_id, token, tf) posting rows.
    * q_surprisal feeds the STORED bm25 index here — the LM's unigram
    * counts are Σ tf per token, which over a token-bucketed scan
    * aggregates and joins EXCHANGE-FREE (the only shuffle left is the
    * per-doc sum) — while [[surprisal]] keeps the any-corpus form the
    * property tests and streaming paths use.
    */
  private[graft] def surprisalFromTf(tf: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cnts = tf.groupBy("token").agg(sum("tf").as("cnt"))
    val tot = cnts.agg(sum("cnt").as("total"))
    tf.join(cnts, "token")
      .crossJoin(broadcast(tot))
      .withColumn("bits",
        (length(bin(expr("total DIV cnt"))) - 1).cast("bigint"))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_toks"),
        sum(col("tf") * col("bits")).as("sum_bits"))
      .select(col("doc_id"), col("n_toks"), col("sum_bits"),
        Det.rnd(col("sum_bits").cast("double") / col("n_toks"), 6)
          .as("avg_bits"))
  }

  /** [[connectedComponents]]'s regime bound: graphs at or below this
    * edge count take the measured single-partition fast path; above
    * it, parallelism derives from the data. The sf0.1 near-dup
    * subgraph is ~100s of edges; 50k edges of (long, long) is still
    * comfortably one task's work. */
  private[graft] val CcSmallGraphMaxEdges: Long = 50000L

  /** Target edges per shuffle partition in the large regime — two
    * longs plus row overhead ≈ 24 B/edge, so 500k edges ≈ 12 MB per
    * partition of loop state. */
  private[graft] val CcEdgesPerPartition: Long = 500000L

  /** The [[connectedComponents]] regime decision, pure for its spec:
    * (small?, loop shuffle partitions). */
  private[graft] def ccPlan(edgeCount: Long,
      smallMax: Long = CcSmallGraphMaxEdges): (Boolean, Int) = {
    val small = edgeCount <= smallMax
    val parts =
      if (small) 1
      else math.max(2, math.min(4096,
        math.ceil(edgeCount.toDouble / CcEdgesPerPartition).toInt))
    (small, parts)
  }

  /** Connected components by iterative min-label propagation over an
    * undirected `(a_id, b_id)` edge list (tiny — the near-dup subgraph
    * of a corpus; pinned + lineage-cut here via eager localCheckpoint,
    * so callers need not persist it). Returns `(id, lbl)` where `lbl` is
    * the minimum id reachable from `id` — the deterministic canonical
    * representative. Tested directly on multi-hop graphs in
    * ConnectedComponentsSpec; exercised end-to-end (with the DuckDB
    * recursive-CTE oracle) by q_dedup_clusters.
    *
    * Caller contract: the returned frame is a SELF-CONTAINED eager
    * localCheckpoint of the converged labels — no lineage back to the
    * edge list, safe to re-reference even after catalog.clearCache().
    * The pinned edge list's checkpoint blocks (the big ones — every
    * candidate pair) are unpersisted EXPLICITLY before this returns,
    * success or failure, so repeated reps in a long bench/verify session
    * accumulate nothing; only the label-sized blocks of the returned
    * frame itself wait for ContextCleaner GC once the caller drops it
    * (clearCache() does not free checkpoint blocks — unpersist() on the
    * returned frame is likewise a no-op). At cluster scale prefer
    * reliable checkpointing anyway (see below). The
    * loop also briefly rewrites session-GLOBAL conf (restored in the
    * finally below), so the driver must not plan unrelated queries on
    * this session concurrently — true of every current caller
    * (Verify/Bench/tests are single-threaded per session).
    *
    * Shape notes (all measured at sf0.1, idle min-of-3):
    *   - The edge list is pinned with an EAGER localCheckpoint BEFORE
    *     iterating, which does two jobs at once: materializes the heavy
    *     upstream pipeline exactly once (the loop's first action would
    *     otherwise race several cold-cache references to it), and CUTS
    *     THE LINEAGE — without the cut, every round's tiny 1-partition
    *     query drags the whole candidate-generation plan back through
    *     analysis/optimization/codegen even though execution hits the
    *     cache, ~0.25s/round of pure driver planning at sf0.1. Local
    *     checkpoint blocks don't survive executor loss; a long-running
    *     cluster job should swap in reliable checkpointing (same
    *     one-line call) — the planning-cost argument only strengthens
    *     with scale.
    *   - One propagation step = min over (current ∪ neighbor-hop): one
    *     join + one aggregate. Round count is O(diameter), which for
    *     near-dup clusters is small by construction (dup clusters are
    *     cliquish); both O(log d) alternatives were measured and rejected
    *     at this scale — pointer-doubling (a labels⋈labels hop per round)
    *     planned its stat-less self-join as a sort-merge join for
    *     +1.7s/query, and two steps per witness check recomputed the
    *     unmaterialized inner step per reference for +1.5s. A giant
    *     high-diameter graph flips that trade-off, so pointer-doubling
    *     ships behind the `pointerDoubling` flag (VERDICT r09 #5): each
    *     round then also jumps through the current labels
    *     (lbl ← min(lbl, lbl(lbl))) in the SAME min-aggregate, keeping
    *     the fused convergence witness — the fixpoint is unchanged
    *     (jumped labels stay within the reachable set; the neighbor hop
    *     still guarantees min-reachable), only the round count drops to
    *     O(log d). Default off: the corpus graphs are cliquish and the
    *     extra self-join never pays for itself there.
    *   - Convergence witness, fused into the step: the previous label is
    *     carried THROUGH the min-aggregate (prev contributes exactly one
    *     tagged row per id, so `min(when(own, lbl))` recovers it), and an
    *     `Observation` on the same plan counts rows whose label changed
    *     while the materializing count() runs. Each round is therefore
    *     ONE action over exactly the rows the step had to touch anyway —
    *     no separate before/after scan, no driver-side result beyond the
    *     observed counter, and changed==0 ⇔ fixpoint exactly (updates
    *     are monotone decreasing). This replaced a tagged-union
    *     label-SUM witness that needed a decimal(38,0) accumulator to
    *     rule out wraparound faking convergence; counting changes has no
    *     overflow mode at all.
    *   - DATA-DERIVED REGIME SWITCH (r17, VERDICT item 3 — formerly a
    *     hand-flipped knob documented as "raise at real scale"): the
    *     eager localCheckpoint materializes the edge list anyway, so
    *     its count is read before the loop and picks the regime.
    *     TINY graph (≤ `smallGraphMaxEdges`, the measured sf0.1
    *     near-dup case): collapse to ONE partition behind a shuffle
    *     boundary and pin loop-scoped conf (restored in finally) — 1
    *     shuffle partition (the session's 32 would schedule 32
    *     near-empty tasks per exchange), AQE off (each exchange would
    *     become a separately materialized + re-optimized query stage —
    *     pure latency on this fixed-shape tiny DAG), whole-stage
    *     codegen off (each round compiles fresh generated classes for
    *     a job touching a few hundred rows, ~0.3s/round that never
    *     amortizes; the first two knobs were worth ~0.8s/query each),
    *     pointer-doubling off (cliquish graphs converge in ~2 rounds;
    *     the extra self-join never pays). Every round ends in a
    *     label-sized localCheckpoint lineage cut in BOTH regimes (see
    *     the in-loop comment — plan growth under doubling is
    *     exponential in rounds, and a merely persisted frame is
    *     unsafe to carry across the previous round's block free); on
    *     the tiny regime that is one extra ~10ms job per round.
    *     LARGE graph: shuffle
    *     partitions derived from the edge count ([[ccPlan]] — bounded
    *     below by 2, above by 4096), AQE and codegen stay at session
    *     settings (per-round data now amortizes both), and
    *     pointer-doubling DEFAULTS ON (O(log d) rounds — a
    *     billion-edge graph's diameter is not cliquish). An explicit
    *     `pointerDoubling` overrides the default in either regime.
    *     Both regimes produce identical labels
    *     (ConnectedComponentsSpec's cross-regime leg).
    */
  def connectedComponents(s: org.apache.spark.sql.SparkSession,
      edges: org.apache.spark.sql.DataFrame,
      pointerDoubling: Option[Boolean] = None,
      smallGraphMaxEdges: Long = CcSmallGraphMaxEdges)
      : org.apache.spark.sql.DataFrame = {
    val e0 = edges.localCheckpoint()
    // the checkpoint already ran the heavy candidate pipeline; this
    // count scans the pinned blocks only
    val edgeCount = e0.count()
    val (small, parts) = ccPlan(edgeCount, smallGraphMaxEdges)
    val doubling = pointerDoubling.getOrElse(!small)
    val e =
      if (small && e0.rdd.getNumPartitions > 1) {
        // drop the tiny subgraph to one partition behind a shuffle
        // boundary (NOT coalesce, which would collapse the upstream
        // pipeline into one task — moot here since e0 is already
        // materialized, but repartition keeps the shape explicit)
        val one = e0.repartition(1).localCheckpoint()
        unpersistCheckpoint(e0)
        one
      } else e0
    val sym = e
      .select(col("a_id").as("u"), col("b_id").as("v"))
      .union(e.select(col("b_id").as("u"), col("a_id").as("v")))
    // round 0 folded into the init: min(self, direct neighbors) in one
    // aggregation, no join — for cliquish dup clusters this is already
    // the fixpoint and the loop only confirms it
    var labels = sym.select(col("u").as("id"), col("v").as("lbl"))
      .union(sym.select(col("u").as("id"), col("u").as("lbl")))
      .groupBy("id").agg(min("lbl").as("lbl"))
      .persist()
    // one propagation round: min over (current ∪ neighbor-hop), with the
    // convergence witness fused in — prev's label rides through the
    // aggregate on a tagged row and the Observation counts changes
    // during the same action that materializes the result
    def step(l: org.apache.spark.sql.DataFrame,
        obs: org.apache.spark.sql.Observation) = {
      val via = sym.join(l, col("u") === col("id"))
        .select(col("v").as("id"), col("lbl"))
      val base = l.select(col("id"), col("lbl"), lit(true).as("own"))
        .union(via.select(col("id"), col("lbl"), lit(false).as("own")))
      val contrib = if (!doubling) base else {
        // pointer-doubling hop: follow each id's label to THAT node's
        // label (lbl(lbl(id))) — one more min contribution per id, same
        // aggregate, halves the remaining diameter each round
        val jump = l.select(col("id").as("jid"), col("lbl").as("jlbl"))
        base.union(l.join(jump, col("lbl") === col("jid"))
          .select(col("id"), col("jlbl").as("lbl"), lit(false).as("own")))
      }
      contrib
        .groupBy("id")
        .agg(min("lbl").as("lbl"),
          // every id has exactly ONE own row (l is already keyed by id),
          // so this recovers prev's label; via-only ids can't exist (all
          // of sym's v values appear as u values by symmetry)
          min(when(col("own"), col("lbl"))).as("prev_lbl"))
        .observe(obs,
          // count(when(...)) not sum(...): count is 0 on an empty
          // frame where sum would be null
          count(when(col("lbl") =!= col("prev_lbl"), lit(1)))
            .as("changed"))
        .select("id", "lbl")
    }
    val loopConf =
      if (small) Seq("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "1",
        "spark.sql.codegen.wholeStage" -> "false")
      // large regime: the loop's parallelism is DERIVED FROM EDGE COUNT
      // by ccPlan — pin the persisted labels frame to it (r19): the
      // session-wide cached-plan-AQE knob (GraftSession) would re-derive
      // partitioning from the materialized BYTES, which under-parallelizes
      // a forced-large fixture and double-guesses ccPlan on real graphs
      else Seq("spark.sql.shuffle.partitions" -> parts.toString,
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" ->
          "false")
    val prevConf = loopConf.map { case (k, _) => k -> s.conf.get(k) }
    try {
      loopConf.foreach { case (k, v) => s.conf.set(k, v) }
      var converged = false
      // whether the CURRENT labels frame is a per-round checkpoint
      // (large regime, round ≥ 1) or a plain persisted frame. The
      // distinction matters for freeing: unpersistCheckpoint reaches
      // for the plan's first LogicalRDD, which on a PERSISTED frame
      // is the pinned EDGE list — freeing that mid-loop kills the
      // loop's only data source.
      var labelsIsCk = false
      def free(df: org.apache.spark.sql.DataFrame,
          isCk: Boolean): Unit =
        if (isCk) unpersistCheckpoint(df) else { df.unpersist(); () }
      while (!converged) {
        val obs = new org.apache.spark.sql.Observation()
        val stepped = step(labels, obs).persist()
        // on a mid-loop failure, drop BOTH cached frames before
        // rethrowing — the finally below restores conf, not cache state
        val changed =
          try {
            stepped.count()
            obs.get("changed").asInstanceOf[Long]
          } catch { case t: Throwable =>
            stepped.unpersist(); free(labels, labelsIsCk); throw t
          }
        // PLAN-LINEAGE CUT, every round (r17): the step references
        // the labels frame up to 3 times (own row, neighbor hop,
        // doubling jump), so an uncut logical plan grows
        // EXPONENTIALLY with round count — invisible on the cliquish
        // 2-round corpus graphs, an OOM in plan stringification alone
        // by round ~9 of a high-diameter graph. The checkpoint also
        // makes each round's labels SELF-CONTAINED before the
        // previous round's blocks are freed below — carrying a merely
        // persisted frame across the free is unsafe: the doubling
        // self-join clones one plan branch (DeduplicateRelations),
        // and the cloned branch can dodge cache substitution and read
        // the freed checkpoint directly (observed as
        // CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). Cost: one extra
        // label-sized pass per round over the just-cached rows.
        val next =
          try stepped.localCheckpoint()
          catch { case t: Throwable =>
            stepped.unpersist(); free(labels, labelsIsCk); throw t
          }
        stepped.unpersist()
        converged = changed == 0L
        free(labels, labelsIsCk)
        labels = next
        labelsIsCk = true
      }
      // detach the result from the edge list: one more (tiny, cached,
      // 1-partition) materialization into its own checkpoint blocks, so
      // the finally below can free the edge blocks without leaving the
      // returned frame un-recomputable; a failed detach must not orphan
      // the converged cache (same discipline as the mid-loop handler).
      // A cut round's labels frame IS already self-contained.
      val out =
        if (labelsIsCk) labels
        else {
          val o = try labels.localCheckpoint()
            catch { case t: Throwable => labels.unpersist(); throw t }
          labels.unpersist()
          o
        }
      out
    } finally {
      prevConf.foreach { case (k, v) => s.conf.set(k, v) }
      // free the pinned edge list NOW (every candidate pair — the bulk
      // of the loop's storage) instead of waiting for the driver to GC
      // the frame; localCheckpoint blocks are invisible to clearCache
      unpersistCheckpoint(e)
    }
  }

  /** Unpersist the checkpoint blocks behind an (eagerly) locally
    * checkpointed frame — `Dataset.localCheckpoint` offers no release
    * hook (`Dataset.unpersist` goes through the CacheManager, which
    * does not track checkpoint RDDs, so it is a silent NO-OP here),
    * so reach through the LogicalRDD it plans to and free its blocks
    * by id (`RDD.unpersist` would log a lineage-truncation warning for
    * every such intended release). The frame must not be referenced
    * afterwards (its only data source is gone).
    */
  private[graft] def unpersistCheckpoint(
      df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        org.apache.spark.sql.graftbridge.GraftDatasetBridge
          .unpersistRDD(r.rdd)
    }

  val defs: Seq[QDef] = Seq(

    // X6: JSON extraction from the events.props payload column.
    QDef("q_json_extract",
      (s, d) => Tables.events(s, d).select(
        col("event_id"),
        from_json(col("props"), lit("k INT")).getField("k").as("k")),
      // TRY_CAST, not CAST: Spark's from_json is permissive (a
      // non-integer k yields null); a plain DuckDB CAST would instead
      // abort the whole oracle query on the first malformed value
      Some("SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') " +
        "AS INTEGER) AS k FROM events")),

    // X5: corpus stats per language — integer sums (exact in any order)
    // with averages derived by one deterministic division.
    QDef("q_text_stats",
      (s, d) => Tables(s, d, "documents")
        .withColumn("n_toks", size(split(trim(col("text")), "\\s+")))
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          sum("n_toks").as("sum_toks"),
          (sum("n_chars").cast("double") / count(lit(1))).as("avg_chars")),
      Some("SELECT lang, count(*) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS sum_chars, " +
        "CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) " +
        "AS sum_toks, " +
        "CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars " +
        "FROM documents GROUP BY lang")),

    // X5: per-doc token counting — whitespace tokens plus a BPE-ish
    // regex token count and a chars/4 subword estimate. regexp_count,
    // not size(regexp_extract_all(...)): the count is the only thing
    // consumed, and extract_all materializes every token as a UTF8String
    // array element first — pure allocation on the hottest per-row path
    // (q_token_count ran exactly at the data factor in SCALE_SF1.md,
    // i.e. it IS compute-bound).
    QDef("q_token_count",
      (s, d) => Tables(s, d, "documents").select(
        col("doc_id"),
        size(split(trim(col("text")), "\\s+")).as("n_ws"),
        expr("CAST(regexp_count(text, '[a-z0-9]+|[^a-z0-9\\\\s]') AS INT)")
          .as("n_re"),
        expr("(n_chars + 3) div 4").as("n_bpe_est")),
      Some("SELECT doc_id, " +
        "CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_ws, " +
        "CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9\\s]')) " +
        "AS INT) AS n_re, (n_chars + 3) // 4 AS n_bpe_est FROM documents")),

    // X5: language-ID heuristic — presence-count of per-language stopword
    // markers, first-match-wins tie order (en > fr > es > de, else 'und').
    QDef("q_lang_id",
      (s, d) => {
        def score(lang: String) =
          langScore(col("text"), LangWords.toMap.apply(lang))
        val en = score("en")
        val fr = score("fr")
        val es = score("es")
        val de = score("de")
        Tables(s, d, "documents").select(
          col("doc_id"),
          en.as("s_en"), fr.as("s_fr"), es.as("s_es"), de.as("s_de"),
          when(en >= fr && en >= es && en >= de && en > 0, "en")
            .when(fr >= es && fr >= de && fr > 0, "fr")
            .when(es >= de && es > 0, "es")
            .when(de > 0, "de")
            .otherwise("und").as("pred_lang"))
      },
      Some {
        def sc(lang: String) = langScoreSql(LangWords.toMap.apply(lang))
        val (en, fr, es, de) = (sc("en"), sc("fr"), sc("es"), sc("de"))
        s"SELECT doc_id, s_en, s_fr, s_es, s_de, CASE " +
          "WHEN s_en >= s_fr AND s_en >= s_es AND s_en >= s_de AND s_en > 0 " +
          "THEN 'en' " +
          "WHEN s_fr >= s_es AND s_fr >= s_de AND s_fr > 0 THEN 'fr' " +
          "WHEN s_es >= s_de AND s_es > 0 THEN 'es' " +
          "WHEN s_de > 0 THEN 'de' ELSE 'und' END AS pred_lang FROM " +
          s"(SELECT doc_id, $en AS s_en, $fr AS s_fr, $es AS s_es, " +
          s"$de AS s_de FROM documents)"
      }),

    // X5: quality scoring — length, vocabulary diversity, chars/token.
    QDef("q_quality",
      (s, d) => Tables(s, d, "documents")
        .withColumn("n_tok", size(split(trim(col("text")), "\\s+")))
        .withColumn("n_uniq", size(expr(toksExpr)))
        .select(
          col("doc_id"), col("n_tok"), col("n_uniq"),
          (col("n_uniq").cast("double") / col("n_tok")).as("uniq_ratio"),
          (col("n_chars").cast("double") / col("n_tok")).as("chars_per_tok"),
          when(qualityGate(col("n_tok"), col("n_uniq")), "good")
            .otherwise("low").as("quality")),
      Some("SELECT doc_id, CAST(n_tok AS INT) AS n_tok, " +
        "CAST(n_uniq AS INT) AS n_uniq, " +
        "CAST(n_uniq AS DOUBLE) / n_tok AS uniq_ratio, " +
        "CAST(n_chars AS DOUBLE) / n_tok AS chars_per_tok, " +
        s"CASE WHEN ${qualityGateSql("n_tok", "n_uniq")} " +
        "THEN 'good' ELSE 'low' END AS quality FROM " +
        "(SELECT doc_id, n_chars, " +
        "len(string_split_regex(trim(text), '\\s+')) AS n_tok, " +
        s"len($toksSql) AS n_uniq FROM documents)")),

    // X5: document fingerprint — md5 over whitespace-normalized text plus
    // a short prefix band usable as a blocking key.
    QDef("q_fingerprint",
      (s, d) => Tables(s, d, "documents").select(
        col("doc_id"),
        md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("fp"),
        substring(md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")),
          1, 8).as("band")),
      Some("SELECT doc_id, " +
        "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp, " +
        "substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), " +
        "1, 8) AS band FROM documents")),

    // X4: exact dedup — group by content hash, keep lowest doc_id
    // (the 100 TB shape: one shuffle on a 32-byte key, no text compare).
    QDef("q_dedup_exact",
      (s, d) => Tables(s, d, "documents")
        .groupBy(md5(col("text")).as("fp"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies")),
      Some("SELECT md5(text) AS fp, min(doc_id) AS keep_id, " +
        "count(*) AS n_copies FROM documents GROUP BY md5(text)")),

    // X4: duplicated-span detection — for each doc, how many of its
    // 13-token spans also occur elsewhere in the corpus (or again in the
    // same doc). The relational re-expression of exact-substring train-
    // data dedup (suffix-array dedup à la "Deduplicating Training Data
    // Makes Language Models Better"): instead of one giant suffix array,
    // every token position emits its 13-gram's md5 and a window count
    // over that 32-byte key flags spans seen ≥2 times. Shape: per-row
    // span fan-out (map-only), ONE shuffle on the span hash (the window
    // needs no order — most groups are size 1, so per-key buffering is
    // trivial), one shuffle for the per-doc rollup. Spans never carry
    // text through the shuffle — only the fixed-width hash. Docs under
    // 13 tokens have no spans and drop out on both engines.
    // Span key = TWO xxhash64 lanes over the 13-token ARRAY slice
    // (r19; was md5 over the space-joined string). The hash never
    // reaches the output — only equality-grouping counts do — so any
    // 128-bit-collision-free key is value-identical, and the two-lane
    // form is strictly cheaper per span: no per-span string build, no
    // crypto digest, no 32-char hex alloc, and the shuffle key narrows
    // from a 32-char string to 2 longs (guide §2.3 "narrower types" —
    // fewer shuffle bytes at every scale). Tokens contain no
    // whitespace (they come from a \s+ split), so the token-tuple key
    // equals the joined-string key's equivalence classes; the second
    // lane is seeded by a leading literal, preserving the md5 design's
    // 128-bit no-collision margin at 100 TB span counts (a single
    // 64-bit lane would saturate at ~2^32 spans). Measured: the span
    // fan-out stage 366→~150 ms at sf0.1.
    QDef("q_dup_spans",
      (s, d) => {
        val spans = Tables(s, d, "documents")
          .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
          .withColumn("n", size(col("toks")))
          .filter(col("n") >= 13)
          .select(col("doc_id"), col("toks"),
            explode(expr("sequence(1, n - 12)")).as("i"))
          .select(col("doc_id"),
            xxhash64(expr("slice(toks, i, 13)")).as("h1"),
            xxhash64(lit("graft-lane2"), expr("slice(toks, i, 13)"))
              .as("h2"))
        val wSpan = Window.partitionBy("h1", "h2")
        spans.withColumn("cnt", count(lit(1)).over(wSpan))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_spans"),
            count(when(col("cnt") > 1, 1)).as("n_dup_spans"))
          .withColumn("dup_ratio", graft.Det.rnd(
            col("n_dup_spans").cast("double") / col("n_spans"), 6))
      },
      Some("WITH t AS (SELECT doc_id, " +
        "string_split_regex(trim(text), '\\s+') AS toks FROM documents), " +
        "p AS (SELECT doc_id, unnest([md5(array_to_string(" +
        "toks[i:i+12], ' ')) " +
        "for i in generate_series(1, len(toks) - 12)]) AS h FROM t), " +
        "c AS (SELECT doc_id, count(*) OVER (PARTITION BY h) AS cnt " +
        "FROM p) " +
        "SELECT doc_id, count(*) AS n_spans, " +
        "count(CASE WHEN cnt > 1 THEN 1 END) AS n_dup_spans, " +
        graft.Det.rndSql(
          "CAST(count(CASE WHEN cnt > 1 THEN 1 END) AS DOUBLE) / count(*)",
          6) +
        " AS dup_ratio FROM c GROUP BY doc_id")),

    // X4: MinHash signatures over word-3-gram shingles (4 seeds, 2 bands).
    QDef("q_minhash",
      (s, d) => {
        Tables(s, d, "documents")
          .withColumn("lanes", expr("graft_minhash_lanes(text)"))
          .select(
            col("doc_id"),
            expr(mhExpr(1)).as("mh1"), expr(mhExpr(2)).as("mh2"),
            expr(mhExpr(3)).as("mh3"), expr(mhExpr(4)).as("mh4"),
            md5(concat(expr(mhExpr(1)), expr(mhExpr(2)))).as("band1"),
            md5(concat(expr(mhExpr(3)), expr(mhExpr(4)))).as("band2"))
      },
      Some("WITH t AS (SELECT doc_id, " +
        "string_split_regex(trim(text), '\\s+') AS rawtoks FROM documents), " +
        s"s AS (SELECT doc_id, $shSql AS sh FROM t), " +
        s"h AS (SELECT doc_id, $hsSql AS hs FROM s) " +
        s"SELECT doc_id, ${mhSql(1)} AS mh1, ${mhSql(2)} AS mh2, " +
        s"${mhSql(3)} AS mh3, ${mhSql(4)} AS mh4, " +
        s"md5(${mhSql(1)} || ${mhSql(2)}) AS band1, " +
        s"md5(${mhSql(3)} || ${mhSql(4)}) AS band2 FROM h")),

    // X4: near-dedup via banded MinHash-LSH — candidates are band
    // collisions (two equi-joins + distinct, never an n² cross join),
    // then exact token-Jaccard verification on candidates only.
    // May legitimately return 0 rows when the corpus has no near-dups.
    QDef("q_dedup_near",
      (s, d) => {
        val (docs, cand) = bandCandidates(s, d)
        val toks = docs.select(col("doc_id"), expr(toksExpr).as("toks"))
        cand
          .join(toks.select(col("doc_id").as("a_id"),
            col("toks").as("a_toks")), "a_id")
          .join(toks.select(col("doc_id").as("b_id"),
            col("toks").as("b_toks")), "b_id")
          .select(col("a_id"), col("b_id"),
            intersectSize(col("a_toks"), col("b_toks")).as("n_inter"),
            jaccard(col("a_toks"), col("b_toks")).as("jaccard"))
          .filter(col("jaccard") >= 0.5)
      },
      Some(sigSql +
        ", c AS (" +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.toks AS atoks, " +
        "b.toks AS btoks FROM g a JOIN g b " +
        "ON a.band1 = b.band1 AND a.doc_id < b.doc_id " +
        "UNION " +
        "SELECT a.doc_id, b.doc_id, a.toks, b.toks FROM g a JOIN g b " +
        "ON a.band2 = b.band2 AND a.doc_id < b.doc_id) " +
        "SELECT a_id, b_id, " +
        "CAST(len(list_intersect(atoks, btoks)) AS INT) AS n_inter, " +
        "CAST(len(list_intersect(atoks, btoks)) AS DOUBLE) / " +
        "(len(atoks) + len(btoks) - len(list_intersect(atoks, btoks))) " +
        "AS jaccard FROM c WHERE CAST(len(list_intersect(atoks, btoks)) " +
        "AS DOUBLE) / (len(atoks) + len(btoks) - " +
        "len(list_intersect(atoks, btoks))) >= 0.5")),

    // X4: INCREMENTAL near-dedup — the production ingest shape: a new
    // batch (md5 bucket >= 'cd', ~20% of docs, standing in for today's
    // crawl; same split family as q_sample_split) is checked for
    // near-duplicates AGAINST the existing corpus (~80%) through the
    // same MinHash band index. Band keys equi-join new→old (two joins +
    // distinct, never batch×corpus), candidates travel as id pairs,
    // exact token-Jaccard re-verifies candidates only. At scale the old
    // side is a STORED band index maintained at ingest — each batch
    // then costs O(|batch| + collisions), never a corpus re-scan/
    // re-hash. That stored form EXISTS as writeBandIndex (bucketed on
    // band_key) + nearDupsAgainstIndex below: same pair set as this
    // self-contained query, with the corpus side proven exchange-free
    // in BandIndexSpec. This QDef keeps the inline recompute shape so
    // the oracle needs no pre-written table. May legitimately return 0
    // rows when no batch doc near-dups the corpus.
    QDef("q_dedup_incremental",
      (s, d) => {
        val (docs, bands) = bandSignatures(s, d)
        val bound = graft.operators.TrainingData.TrainBoundary
        val bucket = graft.operators.TrainingData
          .hashPrefixOf(col("doc_id"), 2)
        val nw = bands.filter(bucket >= bound)
          .select(col("doc_id").as("new_id"), col("band1"), col("band2"))
        val ex = bands.filter(bucket < bound)
          .select(col("doc_id").as("old_id"),
            col("band1").as("eb1"), col("band2").as("eb2"))
        val c1 = nw.join(ex, col("band1") === col("eb1"))
          .select("new_id", "old_id")
        val c2 = nw.join(ex, col("band2") === col("eb2"))
          .select("new_id", "old_id")
        val cand = c1.union(c2).distinct()
        val toks = docs.select(col("doc_id"), expr(toksExpr).as("toks"))
        cand
          .join(toks.select(col("doc_id").as("new_id"),
            col("toks").as("n_toks_a")), "new_id")
          .join(toks.select(col("doc_id").as("old_id"),
            col("toks").as("e_toks_a")), "old_id")
          .select(col("new_id"), col("old_id"),
            jaccard(col("n_toks_a"), col("e_toks_a")).as("jaccard"))
          .filter(col("jaccard") >= 0.5)
      },
      Some(dedupIncrOracleSql)),

    // X4 + 100 TB ingest: the STORED-INDEX twin of q_dedup_incremental
    // (VERDICT r11 #6) — same new-vs-corpus near-dup semantics, but the
    // corpus side is the APPEND-MAINTAINED band index (bandIndexIncr:
    // two parity-split ingest batches appended to the bucketed table,
    // the q_bm25_incr treatment), probed through the ONE shared
    // join/verify definition (nearDupsAgainstIndex). Gated by the
    // IDENTICAL oracle SQL as q_dedup_incremental: the hash gate proves
    // append-grown equals recompute-from-scratch, pair for pair.
    QDef("q_dedup_idx",
      (s, d) => {
        val bound = graft.operators.TrainingData.TrainBoundary
        val bucket = graft.operators.TrainingData
          .hashPrefixOf(col("doc_id"), 2)
        val index = bandIndexIncr(s, d)
        val newDocs = Tables(s, d, "documents").filter(bucket >= bound)
        nearDupsAgainstIndex(newDocs, index)
      },
      Some(dedupIncrOracleSql)),

    // X4: near-dup CLUSTER consolidation — pairs alone don't dedupe a
    // corpus; the pipeline needs connected components over the pair
    // graph to pick one canonical doc per cluster. Implemented by
    // connectedComponents (above): iterative min-label propagation, one
    // join + one min-aggregate and ONE driver barrier per round.
    // Canonical id = min doc_id in the component — deterministic and
    // round-count-agnostic. Oracle: DuckDB recursive CTE computing min
    // reachable id over the same edge set.
    QDef("q_dedup_clusters",
      (s, d) => {
        val (docs, cand) = bandCandidates(s, d)
        val toks = docs.select(col("doc_id"), expr(toksExpr).as("toks"))
        val jac = jaccard(col("a_toks"), col("b_toks"))
        // symmetric edge list, once: each propagation round is then
        // ONE join + ONE min-aggregate. No partitioning hints here
        // (r17): connectedComponents derives its own regime from the
        // materialized edge count — this tiny subgraph drops to one
        // partition inside the loop; a billion-edge graph partitions
        // from the data.
        val edges = cand
          .join(toks.select(col("doc_id").as("a_id"),
            col("toks").as("a_toks")), "a_id")
          .join(toks.select(col("doc_id").as("b_id"),
            col("toks").as("b_toks")), "b_id")
          .filter(jac >= 0.5)
          .select("a_id", "b_id")
        connectedComponents(s, edges)
          .select(col("id").as("doc_id"), col("lbl").as("canonical_id"))
      },
      Some(sigSql.replaceFirst("WITH ", "WITH RECURSIVE ") +
        ", c AS (" +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.toks AS atoks, " +
        "b.toks AS btoks FROM g a JOIN g b " +
        "ON a.band1 = b.band1 AND a.doc_id < b.doc_id " +
        "UNION " +
        "SELECT a.doc_id, b.doc_id, a.toks, b.toks FROM g a JOIN g b " +
        "ON a.band2 = b.band2 AND a.doc_id < b.doc_id), " +
        "e AS (SELECT a_id, b_id FROM c " +
        "WHERE CAST(len(list_intersect(atoks, btoks)) AS DOUBLE) / " +
        "(len(atoks) + len(btoks) - len(list_intersect(atoks, btoks))) " +
        ">= 0.5), " +
        // symmetric edge list: a recursive CTE gets ONE self-reference
        "es AS (SELECT a_id AS u, b_id AS v FROM e " +
        "UNION ALL SELECT b_id, a_id FROM e), " +
        "nodes AS (SELECT a_id AS id FROM e UNION SELECT b_id FROM e), " +
        "reach AS (SELECT id, id AS lbl FROM nodes " +
        "UNION " +
        "SELECT es.v AS id, r.lbl FROM reach r JOIN es ON es.u = r.id) " +
        "SELECT id AS doc_id, min(lbl) AS canonical_id FROM reach " +
        "GROUP BY id")),

    // X5: TF-IDF keyword extraction — term frequency per doc × inverse
    // document frequency over the corpus, top-3 terms per doc. The idf
    // is the LOG-FREE rational n_docs/df: tf·n/df is a single double
    // division of exact integers, bit-identical across engines, where
    // ln() could drift by an ulp between libm implementations.
    // ONE INDEX, MANY CONSUMERS: tf/df/n_docs are exactly the
    // denormalized columns of the STORED bm25 postings index, so tfidf
    // reads the maintained index (one bucketed scan + the per-doc
    // WindowGroupLimit) instead of re-running the explode + two
    // aggregation shuffles per query — the same maintain-once economics
    // as the bm25 probes, and tokenization CANNOT drift between tfidf
    // and bm25 scoring because tokenTf is shared. The index's
    // tokenize-derived n_docs equals the oracle's count(DISTINCT
    // doc_id) because every document yields at least one token row:
    // split(trim(text)) of an empty string is [""], and tokenTf
    // canonicalizes NULL text to '' (otherwise explode would drop the
    // doc from dl/n_docs — ADVICE r11); the oracle re-verifies per
    // corpus.
    QDef("q_tfidf",
      (s, d) => {
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("token").asc)
        bm25Index(s, d)
          .withColumn("score",
            (col("tf") * col("n_docs")) / col("df"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("doc_id"), col("token"), col("tf"),
            Det.rnd(col("score"), 6).as("score"),
            col("rn").cast("int").as("rn"))
      },
      Some("WITH toks AS (SELECT doc_id, unnest(string_split_regex(" +
        "trim(coalesce(text, '')), '\\s+')) AS token " +
        "FROM documents), " +
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM toks " +
        "GROUP BY doc_id, token), " +
        "df AS (SELECT token, count(*) AS df FROM tf GROUP BY token), " +
        "n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents), " +
        "scored AS (SELECT tf.doc_id, tf.token, tf.tf, " +
        "(tf.tf * n.n_docs) / df.df AS score " +
        "FROM tf JOIN df USING (token) CROSS JOIN n) " +
        "SELECT doc_id, token, tf, " +
        s"${Det.rndSql("score", 6)} AS score, rn FROM (" +
        "SELECT *, CAST(row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY score DESC, token) AS INT) AS rn FROM scored) " +
        "WHERE rn <= 3")),

    // X5: unigram-LM surprisal scoring — the corpus is its own language
    // model and each doc is scored by how surprising its tokens are
    // (high avg surprisal ⇒ rare/garbled text, low ⇒ boilerplate): the
    // classic cheap quality/novelty signal for corpus curation.
    // Surprisal is measured in WHOLE BITS, floor(log2(total/cnt)) =
    // length(bin(total DIV cnt)) - 1 — integer arithmetic end to end,
    // because a fractional log2 would put a transcendental in an
    // oracle-hashed column (q_tfidf's log-free-idf reasoning). Shape:
    // one explode → (doc,token) tf, token counts off tf, a 1-row
    // broadcast total, tf⋈counts on token, per-doc sum — the
    // inverted-index scoring pass. At real scale the token join's
    // heavy-hitter skew ("the") is AQE-skew-join territory, or
    // broadcast the head vocabulary and shuffle only the tail.
    QDef("q_surprisal",
      // ONE INDEX, MANY CONSUMERS (q_tfidf's reasoning): the stored
      // bm25 postings ARE the (doc_id, token, tf) rows surprisal needs,
      // so the LM counts come from one bucketed scan instead of a fresh
      // corpus explode + the AQE-reused tf shuffles per run
      (s, d) => surprisalFromTf(
        bm25Index(s, d).select("doc_id", "token", "tf")),
      Some("WITH toks AS (SELECT doc_id, unnest(string_split_regex(" +
        "trim(coalesce(text, '')), '\\s+')) AS token " +
        "FROM documents), " +
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM toks " +
        "GROUP BY doc_id, token), " +
        "c AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cnt FROM tf " +
        "GROUP BY token), " +
        "n AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c), " +
        "b AS (SELECT tf.doc_id, tf.tf, " +
        "length(bin(n.total // c.cnt)) - 1 AS bits " +
        "FROM tf JOIN c USING (token) CROSS JOIN n) " +
        "SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_toks, " +
        "CAST(sum(tf * bits) AS BIGINT) AS sum_bits, " +
        Det.rndSql("CAST(sum(tf * bits) AS DOUBLE) / sum(tf)", 6) +
        " AS avg_bits FROM b GROUP BY doc_id")),

    // explode + aggregate: the inverted-index building block (token →
    // postings) behind scaled near-dedup; top-20 corpus tokens with a
    // deterministic (count desc, token) cut. INDEX-BACKED (r11): the
    // occurrence count per token is Σ tf over the stored bm25 postings
    // — a bucketed-on-token scan whose aggregation needs NO exchange;
    // the top-20 is a TakeOrderedAndProject over ≤|vocab| rows.
    QDef("q_explode",
      (s, d) => bm25Index(s, d)
        .groupBy("token").agg(sum("tf").as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20),
      Some("SELECT tok AS token, count(*) AS n FROM (" +
        "SELECT unnest(string_split_regex(trim(coalesce(text, '')), " +
        "'\\s+')) AS tok " +
        "FROM documents) GROUP BY tok ORDER BY n DESC, token LIMIT 20")),

    // X4: SimHash — 16-bit signature by per-bit majority vote over token
    // md5s (bit j = high bit of hex nibble j; single-char '>=' compare is
    // plain ASCII order in both engines). The hi-byte prefix doubles as a
    // blocking key: hamming-close docs land in the same block. Spark side
    // is the fused one-pass graft_simhash16 (the composable form is a
    // transform + 16 separate interpreted filter() scans per row);
    // TextExprSpec proves bit-equality to that form.
    QDef("q_simhash",
      (s, d) => {
        Tables(s, d, "documents")
          .select(col("doc_id"), expr("graft_simhash16(text)").as("simhash"))
          .withColumn("band_hi", substring(col("simhash"), 1, 8))
      },
      Some {
        def bit(j: Int) =
          s"CASE WHEN len(list_filter(hsx, h -> substr(h, ${j + 1}, 1) " +
            s">= '8')) * 2 >= len(hsx) THEN '1' ELSE '0' END"
        val sh = (0 until 16).map(bit).mkString(" || ")
        s"SELECT doc_id, $sh AS simhash, substr($sh, 1, 8) AS band_hi " +
          s"FROM (SELECT doc_id, list_transform($toksSql, t -> md5(t)) " +
          "AS hsx FROM documents)"
      }),

    // X4: n-gram Jaccard near-dup — MinHash-band blocking (band keys are
    // corpus-size-invariant: a band collision needs the same lane minima,
    // so block sizes don't grow with the corpus, unlike a (lang,
    // length-bucket) key whose per-block O(n²) explodes at scale).
    // Candidates travel as id pairs only; the trigram-shingle sets are
    // joined back AFTER the candidate cut, so the heavy arrays never fan
    // out through the pair join. Verification is trigram-set Jaccard
    // ≥ 0.3 (vs q_dedup_near's token-set Jaccard ≥ 0.5 — different
    // similarity measure, same scale-safe plan shape). May return 0 rows
    // on a corpus without near-dups.
    QDef("q_ngram_jaccard",
      (s, d) => {
        val (docs, cand) = bandCandidates(s, d)
        val shs = docs.select(col("doc_id"),
          expr("graft_shingle_set(text)").as("shs"))
        val jac = jaccard(col("a_shs"), col("b_shs"))
        cand
          .join(shs.select(col("doc_id").as("a_id"),
            col("shs").as("a_shs")), "a_id")
          .join(shs.select(col("doc_id").as("b_id"),
            col("shs").as("b_shs")), "b_id")
          .select(col("a_id"), col("b_id"), jac.as("jaccard"))
          .filter(col("jaccard") >= 0.3)
      },
      Some("WITH t AS (SELECT doc_id, " +
        "string_split_regex(trim(text), '\\s+') AS rawtoks FROM documents), " +
        s"s AS (SELECT doc_id, $shSql AS sh FROM t), " +
        s"h AS (SELECT doc_id, list_distinct(sh) AS shs, $hsSql AS hs " +
        "FROM s), " +
        "g AS (SELECT doc_id, shs, " +
        s"md5(${mhSql(1)} || ${mhSql(2)}) AS band1, " +
        s"md5(${mhSql(3)} || ${mhSql(4)}) AS band2 FROM h), " +
        "c AS (" +
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.shs AS ashs, " +
        "b.shs AS bshs FROM g a JOIN g b " +
        "ON a.band1 = b.band1 AND a.doc_id < b.doc_id " +
        "UNION " +
        "SELECT a.doc_id, b.doc_id, a.shs, b.shs FROM g a JOIN g b " +
        "ON a.band2 = b.band2 AND a.doc_id < b.doc_id) " +
        "SELECT a_id, b_id, " +
        "CAST(len(list_intersect(ashs, bshs)) AS DOUBLE) / " +
        "(len(ashs) + len(bshs) - len(list_intersect(ashs, bshs))) " +
        "AS jaccard FROM c " +
        "WHERE CAST(len(list_intersect(ashs, bshs)) AS DOUBLE) / " +
        "(len(ashs) + len(bshs) - len(list_intersect(ashs, bshs))) " +
        ">= 0.3")),

    // X1: LLM hook through the per-partition client (stub: first 8
    // tokens), exercised as a real mapPartitions pipeline stage.
    QDef("q_llm_summary",
      (s, d) => LlmOps.withCompletion(
        Tables(s, d, "documents").select("doc_id", "text"),
        "text", "summary").select("doc_id", "summary"),
      Some("SELECT doc_id, array_to_string(" +
        "(string_split_regex(trim(text), '\\s+'))[1:8], ' ') AS summary " +
        "FROM documents")),

    // X5 + RAG: BM25-style lexical retrieval — the sparse twin of the
    // dense q_rag_retrieve leg (production retrieval is hybrid: lexical
    // candidate generation + embedding rerank). Okapi tf saturation
    // (k1=1.2, b=0.75) with a LOG-FREE rational idf (n-df+0.5)/(df+0.5):
    // ln() would put a libm transcendental in an oracle-hashed column
    // (q_tfidf's reasoning). DOCUMENTED DEVIATION from textbook Okapi:
    // the rational idf is exp-scale — per-term it ranks identically
    // (monotone-decreasing in df), but across a multi-term sum it
    // weights rare terms more than log-idf would, so multi-term
    // rankings can differ from ln-idf BM25 (one rare-term match can
    // outscore several common-term matches). The determinism is worth
    // that trade here; swap in ln((n-df+0.5)/(df+0.5)) for textbook
    // behavior where cross-engine hashing isn't at stake.
    // Per-doc score = Σ over matched
    // query terms — summed as integer micro-units via Det.exactSum so
    // partial-aggregation ORDER cannot change the double (term count per
    // (q,doc) is tiny but the principle is free). Shape: the corpus-side
    // tf/dl/df stats are one explode + three aggregations (shuffle on
    // token resp. doc_id); the query set is a driver-literal broadcast so
    // scoring touches ONLY postings of query terms — the inverted-index
    // probe, corpus-scan-free at any scale once tf is a materialized
    // index. Top-10 per query via the rank-cap window
    // (WindowGroupLimit).
    QDef("q_bm25",
      (s, d) => bm25TopK(s, qt => bm25Score(qt,
        bm25Index(s, d).filter(queryTokenFilter))),
      Some(Bm25OracleSql)),

    // X5 + RAG: TEXTBOOK ln-idf Okapi BM25 (VERDICT r09 #4) over the
    // same stored postings index as q_bm25. A precise libm ln cannot
    // sit in a hash-gated column (its last ulp may differ between
    // DuckDB and the JVM, and a 1-ulp flip at a .xxxxxx5 micro-unit
    // boundary — or a near-tie rank swap — would make the gate flaky),
    // so this QDef is the TOLERANCE-ORACLE form (VERDICT r11 #5, the
    // q_approx_distinct pattern): per (query, doc) the ln score is
    // BRACKETED in whole bits — per term, e = floor(log2(idf)) comes
    // from the bit-length of floor(idf·2^20) (integer-exact on both
    // engines; ·2^20 is an exponent shift, no mantissa change, and
    // idf can only be an exact power of two at idf = 1, where
    // ln(1) = 0 sits ON the closed lower bound), giving
    // e·ln2·w ≤ ln(idf)·w < (e+1)·ln2·w. The micro-unit bracket sums
    // [lo, hi] are deterministic (same IEEE ops both engines, the
    // q_bm25-proven okapi weight times an integer-valued e), hash
    // perfectly, and rank the docs on the ln SCALE (lo desc — a
    // whole-bit ln ranking, q_surprisal's trick); ln_ok then has each
    // engine check its OWN precise libm ln score inside the bracket —
    // a 1-ulp libm difference cannot flip it. Terms with idf < 2^-20
    // (possible only at extreme corpus scale) void the bracket:
    // ln_ok = true with the row still ranked/hased deterministically.
    // The precise ln RANKING stays available as bm25LnRanked (library
    // surface), pinned micro-unit-exact in RetrievalSpec.
    QDef("q_bm25_ln",
      (s, d) => {
        val ln2 = lit(0.6931471805599453)
        val idf = rationalIdf
        val m = floor(idf * lit(1048576.0))
        val e = (length(bin(m.cast("bigint"))) - lit(1) - lit(20))
          .cast("double")
        val terms = broadcast(bm25QueryTerms(s))
          .join(bm25Index(s, d).filter(queryTokenFilter), "token")
          .select(col("q_id"), col("doc_id"),
            ((e * ln2) * okapiTfWeight).as("lo_t"),
            (((e + lit(1)) * ln2) * okapiTfWeight).as("hi_t"),
            (log(idf) * okapiTfWeight).as("ln_t"),
            when(m < 1, 1).otherwise(0).as("vac"))
        val agg = terms.groupBy("q_id", "doc_id")
          .agg(Det.exactSum(col("lo_t"), 6).as("lo"),
            Det.exactSum(col("hi_t"), 6).as("hi"),
            sum(col("ln_t")).as("ln_score"),
            max(col("vac")).as("anyvac"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("lo").desc, col("doc_id").asc)
        agg
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .select(col("q_id"), col("doc_id"), col("lo"), col("hi"),
            (col("anyvac") === 1 ||
              (col("ln_score") >= col("lo") &&
                col("ln_score") <= col("hi"))).as("ln_ok"),
            col("rn").cast("int").as("rn"))
      },
      Some("WITH q(q_id, qtext) AS (VALUES " +
        Bm25Queries.map { case (i, t) => s"($i, '$t')" }.mkString(", ") +
        "), " +
        "qt AS (SELECT q_id, unnest(string_split(qtext, ' ')) AS token " +
        "FROM q), " +
        "toks AS (SELECT doc_id, unnest(string_split_regex(" +
        "trim(coalesce(text, '')), '\\s+')) AS token FROM documents), " +
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM toks " +
        "GROUP BY doc_id, token), " +
        "dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks " +
        "GROUP BY doc_id), " +
        "df AS (SELECT token, count(*) AS df FROM tf GROUP BY token), " +
        "n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl), " +
        "t AS (SELECT qt.q_id, tf.doc_id, " +
        "((n.n_docs - df.df + 0.5) / (df.df + 0.5)) AS idf, " +
        "((CAST(tf.tf AS DOUBLE) * 2.2) / (tf.tf + 1.2 * " +
        "(1.0 - 0.75 + 0.75 * dl.dl / n.avgdl))) AS w " +
        "FROM qt JOIN tf USING (token) JOIN df USING (token) " +
        "JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN n), " +
        "b AS (SELECT q_id, doc_id, w, ln(idf) * w AS ln_t, " +
        "floor(idf * CAST(1048576.0 AS DOUBLE)) AS m, " +
        "CAST(length(bin(CAST(floor(idf * CAST(1048576.0 AS DOUBLE)) " +
        "AS BIGINT))) - 1 - 20 AS DOUBLE) AS e FROM t), " +
        "s AS (SELECT q_id, doc_id, " +
        Det.exactSumSql(
          "(e * CAST(0.6931471805599453 AS DOUBLE)) * w", 6) +
        " AS lo, " +
        Det.exactSumSql(
          "((e + 1) * CAST(0.6931471805599453 AS DOUBLE)) * w", 6) +
        " AS hi, sum(ln_t) AS ln_score, " +
        "max(CASE WHEN m < 1 THEN 1 ELSE 0 END) AS anyvac " +
        "FROM b GROUP BY q_id, doc_id) " +
        "SELECT q_id, doc_id, lo, hi, " +
        "(anyvac = 1 OR (ln_score >= lo AND ln_score <= hi)) AS ln_ok, " +
        "rn FROM (SELECT *, CAST(row_number() OVER (PARTITION BY q_id " +
        "ORDER BY lo DESC, doc_id) AS INT) AS rn FROM s) " +
        "WHERE rn <= 10")),

    // X5 + RAG + 100 TB ingest: the INCREMENTAL-index twin of q_bm25 —
    // same queries, same scoring arithmetic, same top-10 window, but
    // the index is built by APPEND-ONLY maintenance (two ingest batches
    // split by doc_id parity; see appendBm25Postings) with df derived
    // at probe time and (n_docs, sum_dl) from the `_docs` member.
    // Gated by the IDENTICAL oracle SQL as q_bm25: the hash gate
    // proves append-maintenance loses nothing against a from-scratch
    // build, bit-for-bit.
    QDef("q_bm25_incr",
      (s, d) => bm25TopK(s, qt => {
        val (postings, stats) = bm25IndexIncr(s, d)
        // literal-token scan filter (r19): the per-token df window sees
        // every fetched token's FULL posting set, so df is unchanged
        bm25ScoreIncr(qt, postings.filter(queryTokenFilter), stats)
      }),
      Some(Bm25OracleSql)),

    // X5: bigram collocation mining — which word pairs co-occur more
    // than chance predicts (phrase detection / tokenizer-merge
    // candidates in corpus prep). Association strength is LIFT,
    // p(xy)/(p(x)p(y)) — PMI without the log2 (same ranking, log2 is
    // monotone; and a transcendental would land in an oracle-hashed
    // column). Bigrams come from arrays_zip-style adjacent pairing
    // INSIDE the token array (transform over a slice) — no per-doc
    // window shuffle, no posexplode self-join; the only shuffles are
    // the count aggregations. min-count ≥ 5 kills the noise tail before
    // the unigram joins; top-20 by (lift desc, bigram) is a
    // TakeOrderedAndProject, no global sort.
    QDef("q_pmi",
      (s, d) => {
        val t = Tables(s, d, "documents")
          .select(split(trim(col("text")), "\\s+").as("rawtoks"))
        val bg = t.select(explode(expr(
          "transform(slice(rawtoks, 1, size(rawtoks) - 1), " +
            "(x, i) -> concat(x, ' ', element_at(rawtoks, i + 2)))"))
          .as("bigram"))
        val uni = t.select(explode(col("rawtoks")).as("token"))
        // TWO corpus passes total (bigram + unigram); the grand totals
        // are Σ over the persisted count tables — never a corpus rescan
        // — and cu is read twice (w1 and w2 legs) from cache
        val cb = bg.groupBy("bigram").agg(count(lit(1)).as("n_pair"))
          .persist()
        val cu = uni.groupBy("token").agg(count(lit(1)).as("n_tok"))
          .persist()
        val nb = cb.agg(sum("n_pair").as("n_big"))
        val nu = cu.agg(sum("n_tok").as("n_uni"))
        val lift = Det.rnd(
          (col("n_pair").cast("double") * col("n_uni") * col("n_uni")) /
            (col("n_x").cast("double") * col("n_y") * col("n_big")), 6)
        cb.filter(col("n_pair") >= 5)
          .withColumn("w1", substring_index(col("bigram"), " ", 1))
          .withColumn("w2", substring_index(col("bigram"), " ", -1))
          .join(cu.select(col("token").as("w1"), col("n_tok").as("n_x")),
            "w1")
          .join(cu.select(col("token").as("w2"), col("n_tok").as("n_y")),
            "w2")
          .crossJoin(broadcast(nb))
          .crossJoin(broadcast(nu))
          .select(col("bigram"), col("n_pair"), col("n_x"), col("n_y"),
            lift.as("lift"))
          .orderBy(col("lift").desc, col("bigram").asc)
          .limit(20)
      },
      Some("WITH t AS (SELECT doc_id, " +
        "string_split_regex(trim(text), '\\s+') AS rawtoks " +
        "FROM documents), " +
        "bg AS (SELECT unnest([array_to_string(rawtoks[i:i+1], ' ') " +
        "for i in generate_series(1, len(rawtoks) - 1)]) AS bigram " +
        "FROM t), " +
        "uni AS (SELECT unnest(rawtoks) AS token FROM t), " +
        "cb AS (SELECT bigram, count(*) AS n_pair FROM bg " +
        "GROUP BY bigram), " +
        "cu AS (SELECT token, count(*) AS n_tok FROM uni GROUP BY token), " +
        "nb AS (SELECT CAST(count(*) AS BIGINT) AS n_big FROM bg), " +
        "nu AS (SELECT CAST(count(*) AS BIGINT) AS n_uni FROM uni), " +
        "s AS (SELECT cb.bigram, cb.n_pair, cx.n_tok AS n_x, " +
        "cy.n_tok AS n_y, " +
        Det.rndSql("(CAST(cb.n_pair AS DOUBLE) * nu.n_uni * nu.n_uni) / " +
          "(CAST(cx.n_tok AS DOUBLE) * cy.n_tok * nb.n_big)", 6) +
        " AS lift " +
        "FROM cb JOIN cu cx ON cx.token = split_part(cb.bigram, ' ', 1) " +
        "JOIN cu cy ON cy.token = split_part(cb.bigram, ' ', 2) " +
        "CROSS JOIN nb CROSS JOIN nu WHERE cb.n_pair >= 5) " +
        "SELECT bigram, n_pair, n_x, n_y, lift FROM s " +
        "ORDER BY lift DESC, bigram LIMIT 20"))
  )
}
