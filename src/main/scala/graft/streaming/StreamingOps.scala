package graft.streaming

import graft.Tables
import graft.operators.TextOps
import graft.operators.TextOps.{FoldGuard, MaintenancePolicy, Retention}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface (SURVEY.md §2.10). The reference has no
  * streaming — its "incremental" mode is a directory re-scan + upsert — so
  * this is the extension path: the same events schema consumed as a file
  * stream with watermarked event-time windows.
  *
  * Scale: file-stream source partitions by file; the windowed aggregate is
  * the standard partial-agg + state-store shape; the 1-hour watermark
  * bounds state.
  */
object StreamingOps {

  /** Tumbling 1-hour counts over a parquet-backed stream of events,
    * drained synchronously into a memory sink (for tests/demo; swap the
    * sink for kafka/parquet in production).
    */
  def tumblingCounts(spark: SparkSession, sfDir: String,
      queryName: String = "stream_tumbling"): DataFrame = {
    // schema must be known up front for streaming reads; ts arrives as
    // raw nanos (see Tables.events) and is truncated identically. The
    // file-stream source requires a directory; eventsStream selects the
    // single events file out of the sf dir with a glob filter.
    val stream = eventsStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"))
    drainToMemory(stream, queryName, mode = "complete")
  }

  /** Incremental merge as a stream (the reference's "incremental" mode —
    * directory re-scan + ON CONFLICT upsert, ETL_OMS_OPERATIONNEL.py — as
    * a true streaming foreachBatch): each micro-batch is keep-last
    * deduplicated and merged last-write-wins into a parquet target.
    * Read-modify-write per batch here; on a lakehouse table this becomes
    * MERGE INTO with the identical batch expression.
    */
  def incrementalUpsert(spark: SparkSession, srcDir: String,
      targetDir: String, keyCols: Seq[String],
      orderCol: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val schema = spark.read.parquet(srcDir).schema
    // one file per micro-batch so the cross-batch merge path really runs
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val fs = org.apache.hadoop.fs.FileSystem.get(
          spark.sparkContext.hadoopConfiguration)
        val tgt = new org.apache.hadoop.fs.Path(targetDir)
        val old = new org.apache.hadoop.fs.Path(targetDir + "_old")
        // rename/delete return false instead of throwing (e.g. dest
        // exists, cross-filesystem move) — a silently failed promotion
        // would mark the batch committed while the target is stale or
        // missing, so every step must be checked
        def must(ok: Boolean, step: String): Unit =
          if (!ok) throw new java.io.IOException(
            s"incrementalUpsert swap failed at: $step")
        // crash recovery FIRST: a crash between the two swap renames
        // below leaves the target missing and _old holding the ONLY
        // complete copy — without this restore, the batch would merge
        // against nothing and the swap would then delete the backup
        // (silent loss of every prior upsert)
        if (!fs.exists(tgt) && fs.exists(old))
          must(fs.rename(old, tgt), s"restore $old -> $tgt")
        val w = Window.partitionBy(keyCols.map(col): _*)
          .orderBy(col(orderCol).desc)
        val dedup = batch
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
        val hasTarget = fs.exists(tgt) && fs.listStatus(tgt).nonEmpty
        val merged =
          if (!hasTarget) dedup
          else {
            val existing = spark.read.parquet(targetDir)
            val union = existing.withColumn("_src", lit(0))
              .unionByName(dedup.withColumn("_src", lit(1)))
            // cross-batch rule: the INCOMING row wins (the reference's
            // sequential ON CONFLICT DO UPDATE — latest statement wins,
            // regardless of orderCol). orderCol orders only WITHIN a
            // batch (dedup above); here it is a defensive tiebreak that
            // never fires while dedup/prior merges leave one row per
            // key per side.
            val mw = Window.partitionBy(keyCols.map(col): _*)
              .orderBy(col("_src").desc, col(orderCol).desc)
            union.withColumn("_rn", row_number().over(mw))
              .filter(col("_rn") === 1).drop("_rn", "_src")
          }
        // write-then-swap: the merge plan reads targetDir, so write the
        // new version beside it and promote via two renames — at every
        // instant a complete copy exists on disk (a crash between the
        // renames is healed by the restore step above), unlike
        // delete-then-rename which has a window with no target at all.
        // A lakehouse table format replaces this with transaction logs;
        // directory renames are the file-system stand-in and are NOT
        // multi-writer safe.
        val tmp = targetDir + "_next"
        merged.write.mode("overwrite").parquet(tmp)
        must(fs.delete(old, true) || !fs.exists(old), s"delete $old")
        if (fs.exists(tgt)) must(fs.rename(tgt, old), s"rename $tgt -> $old")
        must(fs.rename(new org.apache.hadoop.fs.Path(tmp), tgt),
          s"rename $tmp -> $tgt")
        must(fs.delete(old, true) || !fs.exists(old), s"delete $old")
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_ck").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** RAW events file schema as the batch reader sees it — ts may be
    * LONG (legacy nanos files under nanosAsLong) or TIMESTAMP_NTZ
    * (native-µs files); see Tables.events for the two flavors.
    */
  private def eventsSchema(spark: SparkSession,
      sfDir: String): org.apache.spark.sql.types.StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sfDir/events.parquet").schema
  }

  /** Raw events file stream plus the µs-since-epoch extraction expr
    * matching the file's ts flavor — every stateful events op keys its
    * state on `ts_us`, identically for both layouts.
    */
  private def eventsStreamWithTs(spark: SparkSession,
      sfDir: String): (DataFrame, String) = {
    val schema = eventsSchema(spark, sfDir)
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    (raw, Tables.tsMicrosExpr(schema("ts").dataType) + " AS ts_us")
  }

  private def eventsStream(spark: SparkSession, sfDir: String): DataFrame =
    // one source recipe: reuse eventsStreamWithTs's raw stream so the
    // glob/schema invariants live in exactly one place
    Tables.normalizeTs(eventsStreamWithTs(spark, sfDir)._1)

  /** File-streamed documents corpus — the one source recipe shared by
    * every corpus-streaming op (schema pre-read; the file-stream source
    * needs a directory, so the single file is glob-selected).
    */
  private def docsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
  }

  /** Drain a bounded stream (AvailableNow) into a memory sink and return
    * the materialized table — the test/demo sink every op here shares;
    * production swaps this one call site for parquet/kafka.
    */
  private def drainToMemory(df: DataFrame, queryName: String,
      mode: String = "append"): DataFrame = {
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    df.sparkSession.table(queryName)
  }

  /** Stream-stream interval join: each purchase matched to same-user
    * clicks at most one hour earlier. Both sides watermarked so the join
    * state is bounded (clicks can be dropped once no purchase within the
    * interval + watermark can still arrive) — the canonical attribution
    * join at 100 TB/day event rates.
    */
  def clickAttribution(spark: SparkSession, sfDir: String,
      queryName: String = "stream_attrib"): DataFrame = {
    val clicks = eventsStream(spark, sfDir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = eventsStream(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = purchases.join(clicks,
      expr("c_user = p_user AND " +
        "click_ts >= purchase_ts - INTERVAL 1 HOUR AND " +
        "click_ts <= purchase_ts"))
      .select("purchase_id", "p_user", "purchase_ts", "click_id",
        "click_ts")
    drainToMemory(joined, queryName)
  }

  /** Batch twin of [[clickAttribution]] for equivalence testing. */
  def clickAttributionBatch(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
    purchases.join(clicks,
      expr("c_user = p_user AND " +
        "click_ts >= purchase_ts - INTERVAL 1 HOUR AND " +
        "click_ts <= purchase_ts"))
      .select("purchase_id", "p_user", "purchase_ts", "click_id",
        "click_ts")
  }

  /** Watermarked streaming dedup on the event id: state is bounded by the
    * watermark instead of growing with the whole stream history — the
    * at-least-once-source dedup shape.
    */
  def streamingDedup(spark: SparkSession, sfDir: String,
      queryName: String = "stream_dedup"): DataFrame = {
    drainToMemory(eventsStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_id", "user_id", "event_type", "ts"), queryName)
  }

  /** Streaming corpus ingest: the training-data prep ops composed as ONE
    * continuous pipeline — token-count quality floor, exact dedup on the
    * content hash, deterministic md5 train/val/test split — over a
    * file-streamed document corpus. Dedup keeps the first-seen copy
    * (arrival-order state); the split is hash-deterministic, so the
    * OUTPUT SET equals the batch twin whenever the corpus has no exact
    * duplicates (and equals it up to dup-group representative choice
    * otherwise). Append mode, one stateful operator; in production the
    * memory sink becomes parquet/kafka and the dedup switches to
    * dropDuplicatesWithinWatermark to bound state by ingest time.
    */
  def corpusIngest(spark: SparkSession, sfDir: String,
      queryName: String = "stream_corpus"): DataFrame =
    drainToMemory(corpusPrep(docsStream(spark, sfDir)), queryName)

  /** Batch twin of [[corpusIngest]] — identical transforms on a static
    * read, for the parity gate.
    */
  def corpusIngestBatch(spark: SparkSession, sfDir: String): DataFrame =
    corpusPrep(spark.read.parquet(s"$sfDir/documents.parquet"))

  /** Streaming incremental near-dedup — the stream-static twin of batch
    * q_dedup_incremental (the continuous-ingest dedup gate): new
    * documents arrive as a file stream and are checked for
    * near-duplicates against the static corpus's MinHash band index.
    *
    * Shape, the part that matters at scale: the STATIC side is exactly
    * the stored index a production deployment maintains at ingest —
    * (band_key, old_id, toks) rows, band1 ∪ band2 — and the STREAM side
    * computes its signatures per arriving doc with the same stateless
    * expressions batch uses (TextOps.sigWithToks, one shared
    * definition), explodes to its two band keys, and stream-static
    * equi-joins on band_key. Exact token-Jaccard verifies collisions
    * only; a streaming dropDuplicates on (new_id, old_id) collapses
    * pairs that collide on both bands (state = emitted pair ids — at
    * real scale bound it with dropDuplicatesWithinWatermark on an
    * ingest-time column). Append mode end to end.
    *
    * `indexTable`: the name of a STORED bucketed band index written by
    * TextOps.writeBandIndex — the production shape: each micro-batch's
    * stream-static join reads the index as a plain bucketed scan
    * instead of re-hashing the whole corpus per batch, and bucketing on
    * band_key keeps the corpus side exchange-free (VERDICT r08 #4).
    * With None the index is computed inline from the static corpus
    * read — ad-hoc mode for a corpus without a maintained index; same
    * results, corpus re-hashed per micro-batch.
    *
    * The signature/key/verify logic is TextOps.nearDupsAgainstIndex —
    * ONE definition shared with the batch path, so stream and batch
    * cannot drift (exact parity gated in MultimodalStreamingSpec).
    */
  def streamingNearDedup(spark: SparkSession, sfDir: String,
      queryName: String = "stream_neardedup",
      indexTable: Option[String] = None): DataFrame = {
    val bound = graft.operators.TrainingData.TrainBoundary
    val bucket = graft.operators.TrainingData
      .hashPrefixOf(col("doc_id"), 2)
    val corpusIdx = indexTable.map(spark.table).getOrElse(
      graft.operators.TextOps.bandIndexRows(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .filter(bucket < bound), "old_id", "old_toks"))
    val newDocs = docsStream(spark, sfDir).filter(bucket >= bound)
    drainToMemory(
      graft.operators.TextOps.nearDupsAgainstIndex(newDocs, corpusIdx),
      queryName)
  }

  /** Context-window chunking over a file-streamed corpus — the SAME
    * transform as batch q_chunk (TrainingData.chunk, one shared
    * definition), which is stateless/per-row and therefore streams in
    * append mode with no watermark and EXACT output parity with the
    * batch result. This is the continuous-ingest form of the prep step:
    * new corpus files land, their chunks append.
    */
  def streamingChunk(spark: SparkSession, sfDir: String,
      queryName: String = "stream_chunks"): DataFrame =
    drainToMemory(
      graft.operators.TrainingData.chunk(docsStream(spark, sfDir)),
      queryName)

  /** Streaming CURATION GATE — the stateless prefix of the q_curate
    * pipeline (TrainingData.curateGate: language class 'en' AND
    * quality class 'good', ONE definition with batch) applied to
    * arriving documents: per-row, no corpus statistics, so it streams
    * in append mode with exact batch parity. This is the continuous
    * ingest-time filter of a corpus pipeline — documents that fail the
    * gate never reach storage; the STATEFUL stages (exact dedup,
    * decontamination, packing) run batch-side over the gated store
    * (or via the stored band index for online near-dedup —
    * [[streamingNearDedup]]).
    */
  def streamingCurateGate(spark: SparkSession, sfDir: String,
      queryName: String = "stream_curate_gate"): DataFrame =
    drainToMemory(
      graft.operators.TrainingData.curateGate(docsStream(spark, sfDir)),
      queryName)

  /** Streaming BM25 probe — the online-serving twin of batch q_bm25:
    * queries arrive as a file stream (`queriesDir`, rows of (q_id,
    * qtext)) and probe the STATIC inverted index over the corpus
    * (TextOps.bm25Index — the stored table, bucketed on token so the
    * corpus side of every micro-batch's join is exchange-free). The
    * stream side explodes query terms statelessly;
    * the stream-static equi-join touches only the arriving queries'
    * postings; scoring aggregates per (q_id, doc_id) in complete mode.
    * The op emits scored candidates — the top-k cut belongs to the
    * consumer (a ranking service dedupes/cuts per query downstream).
    * Term weight and score are TextOps.bm25Score — ONE definition with
    * batch, so stream and batch scoring cannot drift (exact parity
    * gated in RetrievalSpec).
    *
    * MAINTENANCE CAVEAT (r14, shared by every append-mode serving
    * twin — [[streamingAnn]], [[streamingIvf]]): the stored index is
    * the STATIC side of a stream-static join, resolved once when the
    * streaming plan binds — a maintenance swap (compact/vacuum/
    * refresh) mid-stream invalidates that snapshot and a per-batch
    * retry cannot re-bind it; restart the serving stream after
    * family maintenance. The MICRO-BATCH twins ([[streamingBq]]/
    * [[streamingPq]]/[[streamingSq]]) re-plan every batch under
    * retryingProbe and ride through maintenance without a restart —
    * prefer them when the family self-maintains mid-stream. */
  def streamingBm25(spark: SparkSession, sfDir: String, queriesDir: String,
      queryName: String = "stream_bm25"): DataFrame = {
    val postings = graft.operators.TextOps.bm25Index(spark, sfDir)
    val schema = spark.read.parquet(queriesDir).schema
    val queryTerms = spark.readStream.schema(schema).parquet(queriesDir)
      .select(col("q_id"), explode(split(col("qtext"), " ")).as("token"))
    drainToMemory(
      graft.operators.TextOps.bm25Score(queryTerms, postings),
      queryName, mode = "complete")
  }

  /** Streaming ANN probe — the online-serving twin of the stored-index
    * dense retrieval (VERDICT r11 #4; streamingBm25 is the lexical
    * template): query VECTORS arrive as a file stream (`queriesDir`,
    * rows of (q_id, embedding)) and probe the STATIC stored band index
    * over the corpus (AnnIndex.annIndex — band postings bucketed on
    * band_key, payload bucketed on vec_id, so the corpus side of every
    * micro-batch's stream-static joins is a bucketed scan). Arriving
    * vectors are canonicalized + banded statelessly with the index's
    * build config; candidates dedup on (q_id, vec_id) (streaming
    * state — at scale bound it with dropDuplicatesWithinWatermark);
    * exact sentinel-cosine rescoring emits scored candidates in append
    * mode — the top-k cut belongs to the consumer, exactly like
    * streamingBm25. The whole probe is AnnIndex.scoreExternal — ONE
    * definition with batch, so stream and batch scoring cannot drift
    * (exact parity gated in AnnIndexSpec).
    */
  def streamingAnn(spark: SparkSession, sfDir: String, queriesDir: String,
      queryName: String = "stream_ann"): DataFrame = {
    val table = graft.operators.AnnIndex.annIndex(spark, sfDir)
    val schema = spark.read.parquet(queriesDir).schema
    val queries = spark.readStream.schema(schema).parquet(queriesDir)
    drainToMemory(
      graft.operators.AnnIndex.scoreExternal(queries, spark, table),
      queryName)
  }

  /** Streaming IVF probe — the online-serving twin of the stored IVF
    * index (the [[streamingAnn]] shape for the cell-pruned family):
    * query vectors arrive as a file stream and probe the STATIC
    * bucketed cells table. Cell routing must be STATELESS on a stream
    * (window functions are illegal on the streaming side), so the
    * probe is [[graft.operators.IvfIndex.scoreExternalCandidates]] —
    * per-query centroid ranking as a sorted literal-struct array,
    * nprobe cells exploded, one stream-static equi-join against the
    * bucketed scan. Emits ALL scored candidates of the probed cells;
    * the top-k cut belongs to the consumer. Batch parity with
    * scoreExternal is spec-gated (ExternalProbeSpec).
    */
  def streamingIvf(spark: SparkSession, sfDir: String,
      queriesDir: String, nprobe: Int = 1,
      queryName: String = "stream_ivf"): DataFrame = {
    val table = graft.operators.IvfIndex.ivfIndex(spark, sfDir)
    val schema = spark.read.parquet(queriesDir).schema
    val queries = spark.readStream.schema(schema).parquet(queriesDir)
    drainToMemory(
      graft.operators.IvfIndex.scoreExternalCandidates(queries, spark,
        table, nprobe),
      queryName)
  }

  /** MICRO-BATCH streaming probe — the serving path for probe shapes
    * whose batch form needs windows or aggregations (top-k cuts,
    * rerank windows), which an append-mode streaming plan forbids:
    * run the BATCH probe per micro-batch under foreachBatch and
    * append its results to a per-process results table. The
    * one-definition-with-batch guarantee is trivial here — the probe
    * IS the batch function — at the cost of per-batch materialization
    * instead of incremental emission (the right trade for top-k
    * serving, where each query's answer is complete within its own
    * batch). Ephemeral checkpoint: probe streams are stateless and
    * re-proberable, so nothing needs replay protection. Each batch's
    * probe runs under [[graft.operators.TextOps.retryingProbe]] over
    * `retryTables` (r14): a micro-batch racing a maintenance swap of
    * its family — exactly the composition the self-maintaining
    * ingest hooks introduce — re-plans instead of killing the serving
    * stream.
    */
  private def microBatchProbe(spark: SparkSession, queriesDir: String,
      outTable: String,
      probe: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame,
      retryTables: Seq[String] = Nil): DataFrame = {
    graft.operators.TextOps.clearOrphanLocation(spark, outTable)
    spark.sql(s"DROP TABLE IF EXISTS $outTable")
    val schema = spark.read.parquet(queriesDir).schema
    val ck = java.nio.file.Files
      .createTempDirectory("graft_probe_ck").toString
    val q = spark.readStream.schema(schema).parquet(queriesDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
        // consistentProbe (not plain retryingProbe): the swap's silent
        // failure mode — an empty listing inside the rename window —
        // throws nothing, so only the fingerprint validation catches
        // it. The frame comes back MATERIALIZED; the append below
        // runs OUTSIDE the retry scope, so a validation retry can
        // never double-write a batch's results.
        graft.operators.TextOps.consistentProbe(batch.sparkSession,
            retryTables) { probe(batch.toDF()) }
          .write.mode("append").saveAsTable(outTable)
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the checkpoint is ephemeral BY DESIGN (probes are stateless and
    // re-proberable) — reclaim it rather than leaking a temp dir per
    // probe call
    val ckPath = new org.apache.hadoop.fs.Path(ck)
    ckPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(ckPath, true)
    spark.table(outTable)
  }

  /** Streaming BQ probe: query vectors arrive as a file stream; each
    * micro-batch runs [[graft.operators.BqIndex.scoreExternal]] —
    * Hamming top-C + exact rerank against the memoized corpus index —
    * and appends its top-k to the results table. */
  def streamingBq(spark: SparkSession, sfDir: String,
      queriesDir: String, k: Int = 10,
      outTable: String = "stream_bq_out"): DataFrame = {
    val sig = graft.operators.BqIndex.bqIndex(spark, sfDir)
    val ann = graft.operators.AnnIndex.annIndex(spark, sfDir)
    microBatchProbe(spark, queriesDir, outTable,
      b => graft.operators.BqIndex.scoreExternal(b, b.sparkSession,
        sig, ann + "_vec", k),
      retryTables = Seq(sig, ann + "_vec"))
  }

  /** Streaming PQ probe: per micro-batch ADC top-k against the
    * memoized codes table under the stored codebook. */
  def streamingPq(spark: SparkSession, sfDir: String,
      queriesDir: String, k: Int = 10,
      outTable: String = "stream_pq_out"): DataFrame = {
    val table = graft.operators.PqIndex.pqIndex(spark, sfDir)
    microBatchProbe(spark, queriesDir, outTable, b => {
      val s = b.sparkSession
      // PqIndex.topK's query contract is (vec_id, v) exact vectors;
      // adapt the external (q_id, embedding) shape through the same
      // checked prep every external probe uses
      val dim = s.table(table + "_cb")
        .agg(org.apache.spark.sql.functions.max(
          size(col("c")) * col("sub"))).collect()(0).getInt(0)
      val q = graft.operators.Ann.prepExternal(b, dim)
        .select(col("q_id").as("vec_id"), col("qv").as("v"))
      graft.operators.PqIndex.topK(s, table, q, k)
    }, retryTables = Seq(table, table + "_cb"))
  }

  /** Streaming SQ8 probe: per micro-batch exact-query scan of the
    * memoized dequantized codes. */
  def streamingSq(spark: SparkSession, sfDir: String,
      queriesDir: String, k: Int = 10,
      outTable: String = "stream_sq_out"): DataFrame = {
    val table = graft.operators.SqIndex.sqIndex(spark, sfDir)
    microBatchProbe(spark, queriesDir, outTable,
      b => graft.operators.SqIndex.scoreExternal(b, b.sparkSession,
        table, k),
      retryTables = Seq(table))
  }

  /** Streaming ANN INDEX INGEST — the online half of the vector
    * maintenance story [[streamingAnn]] serves from (the
    * streamingBm25Ingest twin): embedding vectors arrive as a file
    * stream and each micro-batch APPENDS its band postings + payload
    * rows to the stored index (AnnIndex.append under foreachBatch —
    * ONE maintenance definition with batch, so stream-built and
    * batch-built indexes cannot drift; probe parity gated in
    * AnnIndexSpec). Band/payload rows are doc-local, so nothing stored
    * is ever rewritten — per-batch cost O(batch), the 100 TB ingest
    * contract. Same replay ledger (a re-delivered batch id would
    * duplicate every band row and double the probe's candidate
    * payloads) and same STABLE warehouse checkpoint as the BM25
    * ingest: later invocations see only genuinely new files. Table
    * names must be per-process unique (clearOrphanLocation contract).
    *
    * Atomicity caveat, WIDER here than for BM25: a batch touches TWO
    * tables (band postings, then payload) before the ledger commits,
    * so a crash after the first append replays into duplicated band
    * rows, and a crash between the appends leaves candidates whose
    * payload join silently drops them until the replay lands. Exactly
    * the window the BM25 ingest documents — closing it needs a
    * transactional table format; until then treat a crashed ingest as
    * requiring an index rebuild.
    */
  def streamingAnnIngest(spark: SparkSession, sfDir: String,
      table: String,
      nBands: Int = graft.operators.AnnIndex.NBands,
      bits: Int = graft.operators.AnnIndex.Bits,
      dim: Int = graft.operators.AnnIndex.Dim,
      payloadCols: Seq[String] = Nil): Unit =
    // the `_cfg` pin is a first-class member: losing it (or ingesting
    // into a pre-config-pin index) resets the whole family rather
    // than letting the first append re-pin against surviving data
    ledgeredIngest(spark, s"$sfDir/embeddings.parquet", table,
      Seq(table, table + "_vec", table + "_cfg"),
      (batch, t, _) => graft.operators.AnnIndex.append(batch, t,
        nBands = nBands, bits = bits, dim = dim,
        payloadCols = payloadCols))

  /** Streaming PQ INDEX INGEST — the online maintenance leg of
    * [[graft.operators.PqIndex]]: vectors arrive as a file stream and
    * each micro-batch is ENCODED with the stored codebook and appended
    * to the bucketed codes table (PqIndex.append under foreachBatch —
    * one encode definition with batch, so stream- and batch-grown
    * codes cannot drift; gated in AnnIndexSpec). The codebook must
    * pre-exist ([[graft.operators.PqIndex.trainCodebook]] on a seed
    * corpus — append never retrains, the frozen-quantizer contract),
    * and is never touched by ingest, so a PQ batch is ONE table append
    * — a narrower crash window than the two-table ANN ingest above.
    * Same replay ledger + stable warehouse checkpoint as every ingest
    * in this file.
    */
  def streamingPqIngest(spark: SparkSession, sfDir: String,
      table: String): Unit = {
    require(spark.catalog.tableExists(table + "_cb"),
      s"streamingPqIngest: no stored codebook ${table}_cb — train with " +
        "PqIndex.trainCodebook first (ingest never retrains)")
    ledgeredIngest(spark, s"$sfDir/embeddings.parquet", table, Seq(table),
      (batch, t, _) => graft.operators.PqIndex.append(batch, t))
  }

  /** Streaming IVF INDEX INGEST — the online maintenance leg of
    * [[graft.operators.IvfIndex]]: arriving vectors are assigned with
    * the STORED quantizer (frozen centroids — ingest never retrains,
    * same contract as PQ above; refuses without one) and appended to
    * the bucketed cells table. One-table batches, doc-local rows,
    * replay ledger + stable checkpoint from the shared loop;
    * stream-vs-batch assignment parity gated in AnnIndexSpec.
    */
  def streamingIvfIngest(spark: SparkSession, sfDir: String,
      table: String): Unit = {
    require(spark.catalog.tableExists(table + "_cent"),
      s"streamingIvfIngest: no stored quantizer ${table}_cent — build " +
        "with IvfIndex.write first (ingest never retrains)")
    ledgeredIngest(spark, s"$sfDir/embeddings.parquet", table, Seq(table),
      (batch, t, _) => graft.operators.IvfIndex.append(batch, t))
  }

  /** Streaming SQ8 INDEX INGEST — the online maintenance leg of
    * [[graft.operators.SqIndex]]: arriving vectors are int8-quantized
    * with their own per-vector scale and appended to the bucketed
    * codes table. Like BQ, the representation is doc-local AND
    * stateless (nothing to pre-train, nothing to freeze), so
    * stream-grown ≡ batch-built by construction (spec-gated). Replay
    * ledger + stable checkpoint from the shared loop.
    */
  def streamingSqIngest(spark: SparkSession, sfDir: String,
      table: String,
      dim: Int = graft.operators.AnnIndex.Dim): Unit =
    ledgeredIngest(spark, s"$sfDir/embeddings.parquet", table,
      Seq(table, table + "_cfg"),
      (batch, t, _) => graft.operators.SqIndex.append(batch, t, dim))

  /** Streaming BQ INDEX INGEST — the online maintenance leg of
    * [[graft.operators.BqIndex]]: arriving vectors collapse to their
    * sign-bit signatures and append to the bucketed table. Signatures
    * are doc-local AND stateless (no codebook, no corpus statistics —
    * nothing to freeze), so this is the simplest possible ingest: one
    * table, nothing to pre-train, stream-grown ≡ batch-built by
    * construction (still spec-gated). Replay ledger + stable
    * checkpoint from the shared loop.
    */
  def streamingBqIngest(spark: SparkSession, sfDir: String,
      table: String,
      dim: Int = graft.operators.AnnIndex.Dim): Unit =
    ledgeredIngest(spark, s"$sfDir/embeddings.parquet", table,
      Seq(table, table + "_cfg"),
      (batch, t, _) => graft.operators.BqIndex.append(batch, t, dim))

  /** ONE-CALL DOCUMENT INGEST (VERDICT r12 #7 — "a batch arrived"
    * should be one call, not four): a single file-streamed loop over
    * arriving documents that, per micro-batch and behind ONE ledger,
    *   1. applies the curation gate (TrainingData.curateGate — the
    *      stateless lang+quality filter, one definition with batch);
    *   2. EXACT-DEDUPS against everything already ingested: one
    *      md5(text) hash row per stored doc lives in the bucketed
    *      `<base>_hashes` table, the batch dedups internally
    *      (keep-lowest-doc_id, the q_curate rule) and anti-joins the
    *      store — O(batch) probe against a bucketed scan, never a
    *      corpus rescan, and a redelivered or re-staged document can
    *      never index twice;
    *   3. appends the surviving docs' band rows to `<base>_band`
    *      (near-dup index) and their postings to `<base>_bm25` +
    *      `<base>_bm25_docs` — the same appendBandIndex /
    *      appendBm25Postings definitions batch maintenance uses, so
    *      unified and independent maintenance cannot drift (parity
    *      gated in UnifiedIngestSpec);
    *   4. appends the hash rows, closing the dedup loop.
    * LEGAL HOLDS are filtered FIRST — before the hash dedup, not just
    * inside the member appends (which re-filter as a backstop): a held
    * document must leave NO trace, including the `_hashes` row. If the
    * hash row landed, a deliberately cleared registry (the documented
    * un-hold: drop the table) followed by a re-delivery would be
    * silently skipped as "already ingested" — content lost with no
    * record. Contrast the DELETE contract, where keeping the hash row
    * is the point (a redelivered copy of deleted content must not
    * re-index). Filtered against BOTH member registries; stamp them
    * together with [[hold]].
    * Atomicity caveat scales with the table count (the
    * streamingAnnIngest note): a crash mid-batch can leave a partial
    * family until the ledger replays; a transactional format closes
    * it. Tables follow the per-process-unique-name contract.
    */
  def streamingDocumentIngest(spark: SparkSession, sfDir: String,
      base: String,
      maintain: Option[graft.operators.TextOps.MaintenancePolicy] =
        None,
      admission: Seq[graft.operators.Quality.Rule] = Nil,
      maxQuarantineRate: Double = 1.0): Unit =
    groupStream(spark, IndexGroup.documents(base),
      s"$sfDir/documents.parquet", "streamingDocumentIngest", cdc = false,
      maintain, admission, maxQuarantineRate) { novel =>
      graft.operators.TextOps.appendBandIndex(novel, s"${base}_band")
      graft.operators.TextOps.appendBm25Postings(novel, s"${base}_bm25")
    }

  /** ONE-CALL DOCUMENT DELETE: [[delete]] on the document group at
    * `base` — the entry point the document store's callers use. */
  def deleteDocuments(spark: SparkSession, base: String,
      ids: org.apache.spark.sql.DataFrame): Unit =
    delete(spark, IndexGroup.documents(base), ids)

  // ---- group verbs: one definition per verb over an IndexGroup ----
  // ---- (IndexGroup.documents / IndexGroup.vectors)             ----

  /** ONE-CALL GROUP DELETE — the removal twin of the unified ingest:
    * one call tombstones the ids across every member family. A document
    * group's `_hashes` dedup rows are KEPT deliberately: deletion is terminal
    * per id/content (the ingest contract), so a redelivered copy of a
    * deleted document must still be recognized and skipped, not
    * re-indexed.
    */
  def delete(spark: SparkSession, g: IndexGroup,
      ids: org.apache.spark.sql.DataFrame): Unit =
    g.members.foreach(_.family.delete(spark, ids))

  /** ONE-CALL LEGAL HOLD — the hold twin of [[delete]]: stamp the id
    * set into EVERY member registry (`<member>_hold`) so the unified
    * ingest's top-of-loop gate and every member-level append/upsert
    * entry agree. Holds gate INGEST; pair with [[delete]] to remove
    * already-indexed content, then vacuum freely — the hold survives
    * the fold.
    */
  def hold(spark: SparkSession, g: IndexGroup,
      ids: org.apache.spark.sql.DataFrame): Unit = {
    g.members.foreach(_.family.hold(spark, ids))
    // the hold contract is NO TRACE — and the quarantine audit sinks
    // hold rejected rows' FULL CONTENT. A row quarantined on arrival
    // and legally held afterwards would otherwise keep its content in
    // `<base>_quarantine` for the sink's whole retention (r18). Scrub
    // the held ids from the group's ingest and CDC sinks; the
    // `_admission` METRICS keep their counts (numbers, not content —
    // history stays truthful). Replays stay scrubbed: every gated
    // write path hold-filters BEFORE the gate, so a re-derived slice
    // can never re-admit held content into the audit trail.
    g.sinkPrefixes.foreach { p =>
      scrubQuarantine(spark, s"${p}_quarantine", ids, g.idCol); ()
    }
  }

  /** Fold every member family's tombstones into its stored files. */
  def vacuum(spark: SparkSession, g: IndexGroup,
      guard: FoldGuard = FoldGuard.Refuse): Unit =
    g.members.foreach(_.family.vacuum(spark, guard))

  // ---- point-in-time backup/restore for stream-fed groups (r15) --

  private def ckDir(spark: SparkSession, name: String) =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      name.toLowerCase + "_ck")

  /** A stream checkpoint's backup directory `<ck>_bak_<tag>`. */
  private def ckBak(spark: SparkSession, name: String,
      tag: String): org.apache.hadoop.fs.Path = {
    val d = ckDir(spark, name)
    new org.apache.hadoop.fs.Path(d.getParent, s"${d.getName}_bak_$tag")
  }

  /** Snapshot a stream's checkpoint DIRECTORY to `<ck>_bak_<tag>` —
    * the piece TableOps-level backup can't cover. Checkpoint and
    * ledger are a PAIR ([[ledgeredIngest]]'s reset rationale), so the
    * stream-level verbs always snapshot/restore them together. */
  private[graft] def backupCk(spark: SparkSession, name: String,
      tag: String): Option[String] = {
    val src = ckDir(spark, name)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = src.getFileSystem(conf)
    val dst = ckBak(spark, name, tag)
    if (fs.exists(src)) {
      // stage the copy, promote by rename (ADVICE r15 #3 applied to
      // the backup side too): a crash mid-copy must never leave a
      // PARTIAL directory under the `_bak_<tag>` name a later restore
      // would trust as complete. The staging dir is swept on re-run
      // and never read by restore.
      val tmp = new org.apache.hadoop.fs.Path(src.getParent,
        s"${src.getName}_bak_${tag}_staging")
      if (fs.exists(tmp)) { fs.delete(tmp, true); () }
      org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, tmp, false, conf)
      if (fs.exists(dst)) { fs.delete(dst, true); () }
      require(fs.rename(tmp, dst),
        s"backupCk: rename $tmp -> $dst failed")
      Some(dst.toString)
    } else {
      if (fs.exists(dst)) { fs.delete(dst, true); () }
      None
    }
  }

  /** Converge a stream's checkpoint directory to its snapshot:
    * overwrite from the backup copy, or delete it when it has no copy
    * (the stream did not exist at snapshot time — with ledger gone
    * too, a delete/upsert stream replays everything, which is its
    * documented idempotent recovery). */
  private[graft] def restoreCk(spark: SparkSession, name: String,
      tag: String): Option[String] = {
    val live = ckDir(spark, name)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = live.getFileSystem(conf)
    val bak = ckBak(spark, name, tag)
    val hadLive = fs.exists(live)
    if (fs.exists(bak)) {
      // stage the copy NEXT TO the live directory, then promote by
      // rename (ADVICE r15 #3): the old delete-live-then-copy order
      // left a crash window the LENGTH OF THE COPY with no checkpoint
      // at all — for a vector family (no content-hash dedup) the next
      // stream invocation would replay every source file against the
      // restored members, silently duplicating rows. Now the
      // checkpoint-less window is one delete + one rename, and a
      // crash inside it still converges by re-running the restore
      // (the stale staging dir is swept first).
      val tmp = new org.apache.hadoop.fs.Path(live.getParent,
        s"${live.getName}_restoretmp")
      if (fs.exists(tmp)) { fs.delete(tmp, true); () }
      org.apache.hadoop.fs.FileUtil.copy(fs, bak, fs, tmp, false, conf)
      if (fs.exists(live)) { fs.delete(live, true); () }
      require(fs.rename(tmp, live),
        s"restoreCk: rename $tmp -> $live failed")
      Some(s"restored ck $name")
    } else if (hadLive) {
      fs.delete(live, true)
      Some(s"dropped ck $name (absent at snapshot)")
    } else None
  }

  /** POINT-IN-TIME BACKUP of a unified group — the stream-aware
    * composition of [[TextOps.backupIndex]]: every existing member
    * family (every existing sibling; [[TextOps.BackupSiblings]] covers
    * the trained PQ codebook / IVF centroids), the group's state tables
    * (the `_hashes` store, each replay stream's ledger) and each
    * stream's checkpoint DIRECTORY, ledger and checkpoint as a pair.
    * With the checkpoints inside the snapshot, [[restore]] +
    * re-invoking the three streams replays EXACTLY the files that
    * arrived after the snapshot — no duplicate appends (pre-snapshot
    * files stay consumed in the restored checkpoint), no lost CDC
    * (post-snapshot upserts/deletes re-deliver) — converging to the
    * state a never-crashed group would hold. For vectors this is what
    * makes restore SAFE at all: vector appends have no content-hash
    * dedup, so a full replay against restored members would duplicate
    * rows. Run it like fsck: between stream invocations (AvailableNow
    * streams terminate per call, so "quiesced" is the natural state)
    * under the build lock. The `_hold` registries stay OUTSIDE.
    *
    * DIFFERENTIAL (r17, `baseTag`): each member family diffs against
    * its own family marker under the base group tag; the tiny state
    * tables and checkpoint trees always copy in full (they ARE the
    * deltas). A family present now but absent from the base group
    * takes a full copy.
    */
  def backup(spark: SparkSession, g: IndexGroup, tag: String = "bak",
      baseTag: Option[String] = None): Seq[String] =
    TextOps.withBuildLock(spark) {
      TextOps.requireTag("backup", tag)
      val fams = g.families.filter(spark.catalog.tableExists)
      require(fams.nonEmpty,
        s"backup: no ${g.kind} family at base ${g.base}")
      baseTag.foreach { b =>
        TextOps.requireTag("backup(baseTag)", b)
        require(spark.catalog.tableExists(g.marker(b)),
          s"backup: no committed base group ${g.base}/$b to diff " +
            "against")
      }
      // group commit marker (r16, the backupIndex discipline one
      // level up): retired FIRST, written LAST, required by [[restore]]
      // — a crash anywhere in between leaves a marker-less group
      // restore refuses, never a mix of this tag's fresh copies and a
      // previous take's stale ones
      val marker = g.marker(tag)
      dropTableClean(spark, marker)
      val members = fams.flatMap(f => TextOps.backupIndex(spark, f, tag,
        baseTag.filter(b => spark.catalog.tableExists(s"${f}_bakok_$b"))))
      val state = g.stateTables.flatMap(TextOps.backupTable(spark, _, tag))
      val cks = g.streams.flatMap(backupCk(spark, _, tag))
      writeGroupMarker(spark, marker, fams, tag, state, cks)
      members ++ state ++ cks :+ marker
    }

  private def dropTableClean(spark: SparkSession,
      marker: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $marker")
    TextOps.clearOrphanLocation(spark, marker)
  }

  // ---- stream-level retention (r16): without these, every      --
  // ---- snapshot cadence tag accumulates group markers, member  --
  // ---- manifests, meta copies, ledger copies, and checkpoint   --
  // ---- backup trees FOREVER at the unified level               --

  /** Live tags whose member-family copies borrow from `tag`. */
  private def dependents(spark: SparkSession, g: IndexGroup,
      tag: String): Seq[String] =
    g.families.flatMap(TextOps.dependentBackups(spark, _, tag))
      .distinct.sorted

  /** Drop a group's `<tag>` COPY backup: group marker FIRST (a
    * half-dropped group is a set restore already refuses), then
    * per-family copy sets, state-table copies, and checkpoint backup
    * directories. */
  def dropBackup(spark: SparkSession, g: IndexGroup,
      tag: String = "bak"): Unit =
    TextOps.withBuildLock(spark) {
      TextOps.requireTag("dropBackup", tag)
      // differential dependents refuse BEFORE the marker drop (r17):
      // the family-level dropBackup would refuse anyway, but after
      // the group marker was gone — leaving a crashed-group state a
      // re-take must clean up. Check first, mutate after.
      val deps = dependents(spark, g, tag)
      require(deps.isEmpty,
        s"dropBackup: ${g.base}/$tag is the differential base of " +
          s"live tag(s) ${deps.mkString(", ")} — drop the " +
          "dependents first")
      dropTableClean(spark, g.marker(tag))
      g.families.foreach(TextOps.dropBackup(spark, _, tag))
      g.stateTables.foreach(t => dropTableClean(spark, s"${t}_bak_$tag"))
      g.streams.foreach { n =>
        val bak = ckBak(spark, n, tag)
        val fs = bak.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // the `_staging` tree too (ADVICE r16 #2): a backupCk that
        // crashed mid-copy leaves it, and only the next backupCk
        // under the SAME tag would sweep it — retiring the tag after
        // a crash must not leak the staging tree forever
        Seq(bak, bak.suffix("_staging")).foreach { p =>
          if (fs.exists(p)) { fs.delete(p, true); () }
        }
      }
    }

  /** COMMITTED copy-backup tags of a group, by its group markers, in
    * name order (the listBackups convention one level up: a listed
    * tag is restorable; a crashed group's marker-less copies do not
    * list). */
  def listBackups(spark: SparkSession, g: IndexGroup): Seq[String] =
    TextOps.listTags(spark, g.markerPrefix)

  /** [[listBackups]] with group-marker mtimes, newest first. */
  def listBackupsWithAge(spark: SparkSession,
      g: IndexGroup): Seq[(String, Long)] =
    TextOps.listTagsWithAge(spark, g.markerPrefix)

  /** RETENTION for group copy backups: drop the committed group tags
    * `r` picks, by group-marker mtime (the commit-time clock — it is
    * written last) — EXCEPT a tag whose family copies other live tags
    * still borrow from, kept with a note (the family-level
    * [[TextOps.pruneBackups]] contract one level up). */
  def pruneBackups(spark: SparkSession, g: IndexGroup,
      r: Retention): Seq[String] =
    TextOps.pruneBackupTags(spark, listBackupsWithAge(spark, g), r,
      dependents(spark, g, _))(dropBackup(spark, g, _))

  /** Drop a group's `<tag>` MANIFEST snapshot: the stream manifest
    * (the group's commit marker) FIRST, then each member family's
    * manifest + meta copies. */
  def dropSnapshot(spark: SparkSession, g: IndexGroup,
      tag: String = "snap"): Unit =
    TextOps.withBuildLock(spark) {
      TextOps.requireTag("dropSnapshot", tag)
      dropTableClean(spark, s"${g.base}_mf_$tag")
      g.families.foreach(TextOps.dropSnapshot(spark, _, tag))
    }

  /** A group's manifest snapshots, NEWEST FIRST — the stream manifest
    * IS the group's tag record, so this is [[TextOps.listSnapshots]]
    * on the base name. */
  def listSnapshots(spark: SparkSession,
      g: IndexGroup): Seq[(String, Long)] =
    TextOps.listSnapshots(spark, g.base)

  /** RETENTION for a group's manifest snapshots: drop the ones `r`
    * picks, by group-manifest mtime (written last) — group manifest,
    * member manifests, meta copies. */
  def pruneSnapshots(spark: SparkSession, g: IndexGroup,
      r: Retention): Seq[String] =
    TextOps.pruneSnapshotTags(spark, g.base, r)(dropSnapshot(spark, g, _))

  /** Repeatable-read serving epoch over a group —
    * [[TextOps.withIndexEpoch]] lifted to the group: one O(metadata)
    * group snapshot pins EVERY member family at the same instant, `f`
    * serves any number of as-of probes against the tag, the tag
    * retires on the way out. This is the cross-FAMILY consistency a
    * retrieval stack needs: a RAG request that scores bm25 AND
    * near-dups AND rerank (or a multi-rung vector probe: IVF route →
    * PQ rerank → exact payload) must see one corpus state, not
    * whatever each family's last micro-batch left — and the per-batch
    * self-maintenance hooks fold under Anchor, so an epoch taken
    * mid-stream keeps serving across them. [[checkSnapshot]] and
    * [[restoreSnapshot]] check the members through the same
    * anchor-aware [[TextOps.manifestProblems]], so the tag also
    * restores across those folds.
    */
  def withEpoch[T](spark: SparkSession, g: IndexGroup)
      (f: String => T): T = {
    val tag = TextOps.epochTag()
    snapshot(spark, g, tag)
    try TextOps.withEpochLease(spark, tag)(f(tag))
    finally dropSnapshot(spark, g, tag)
  }

  /** The six admission audit sinks a base can own: the ingest's, the
    * document CDC stream's and the vector CDC stream's. */
  private def auditSinks(base: String): Seq[String] =
    Seq(base, s"${base}_ups", s"${base}_vups").flatMap(sinkPair)

  private def sinkPair(prefix: String): Seq[String] =
    Seq(s"${prefix}_quarantine", s"${prefix}_admission")

  /** [[TextOps.storageBreakdown]] lifted to a group: every member
    * family's full breakdown, plus the group-only storage the family
    * gauge cannot see — live state tables (hash store, ledgers), live
    * checkpoint trees, their per-committed-tag backup copies, the
    * admission audit sinks (`audit`), the tiny group markers/stream
    * manifests (`group-meta`), and `debris` for marker-less or
    * crashed-staging copies. One frame answers "what is this group
    * costing, and which verb reclaims what".
    */
  def storageBreakdown(spark: SparkSession,
      g: IndexGroup): org.apache.spark.sql.DataFrame = {
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, Long, Long)]
    def add(component: String, tag: String, member: String,
        files: Seq[(String, Long)]): Unit =
      if (files.nonEmpty)
        rows += ((component, tag, member, files.size.toLong,
          files.map(_._2).sum))
    // live state tables + their committed copies + marker-less debris
    val committed = listBackups(spark, g)
    val committedSet = committed.toSet
    g.stateTables.filter(spark.catalog.tableExists).foreach { t =>
      add("state", "", t, TextOps.listDataFiles(spark, t))
    }
    g.stateTables.foreach { t =>
      val prefix = s"${t.toLowerCase}_bak_"
      spark.sessionState.catalog.listTables("default", s"$prefix*")
        .map(_.table).sorted.foreach { c =>
          val tag = c.stripPrefix(prefix)
          add(if (committedSet.contains(tag)) "state-backup"
              else "debris",
            tag, c, TextOps.listDataFiles(spark, c))
        }
    }
    // live checkpoint trees + their backup/staging dirs
    g.streams.foreach { n =>
      val ck = ckDir(spark, n)
      add("checkpoint", "", ck.getName,
        TextOps.listFilesUnder(spark, ck))
      val fs = ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(ck.getParent)) {
        fs.listStatus(ck.getParent).toSeq
          .filter(_.getPath.getName.startsWith(s"${ck.getName}_bak_"))
          .sortBy(_.getPath.getName).foreach { st =>
            val nm = st.getPath.getName
            val tag = nm.stripPrefix(s"${ck.getName}_bak_")
            val comp =
              if (tag.endsWith("_staging")) "debris"
              else if (committedSet.contains(tag)) "ck-backup"
              else "debris"
            add(comp, tag, nm,
              TextOps.listFilesUnder(spark, st.getPath))
          }
      }
    }
    // admission audit sinks: re-derivable trails, outside backups by
    // design — but they are bytes the group owns, so the gauge names
    // them with their own reclaim verb
    auditSinks(g.base).filter(spark.catalog.tableExists)
      .foreach(t => add("audit", "", t,
        TextOps.listDataFiles(spark, t)))
    // the tiny group-level meta: commit markers + stream manifests
    val metaTables =
      committed.map(t => g.marker(t).toLowerCase) ++
        spark.sessionState.catalog
          .listTables("default", s"${g.base.toLowerCase}_mf_*")
          .map(_.table)
    metaTables.filter(spark.catalog.tableExists).foreach(t =>
      add("group-meta", "", t, TextOps.listDataFiles(spark, t)))
    val sp = spark
    import sp.implicits._
    val groupRows = rows.toSeq
      .toDF("component", "tag", "member", "files", "bytes")
    g.families.filter(spark.catalog.tableExists)
      .map(TextOps.storageBreakdown(spark, _))
      .foldLeft(groupRows)(_ unionAll _)
      .orderBy("component", "tag", "member")
  }

  /** The src-INSENSITIVE content fingerprint of a family's backup
    * commit marker: sha-256 over its sorted (member, path, len) rows.
    * Invariant under [[TextOps.promoteBackup]] (which only clears the
    * src column), changed by any out-of-band family re-take under the
    * same tag — exactly the drift the GROUP marker must catch (a
    * family restore point newer than the ledgers and checkpoints
    * taken with it would replay the wrong window). */
  private def famFingerprint(spark: SparkSession,
      familyMarker: String): (String, Long) = {
    val rows = TextOps.readBackupMarker(spark, familyMarker)
      .map { case (m, p, l, _, _) => s"$m|${p.getOrElse("")}|$l" }
      .sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val hex = md.digest(rows.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    (hex, rows.size.toLong)
  }

  /** Commit a stream-level backup group, LAST: one row per DATA FILE
    * of every state-table copy and checkpoint backup directory
    * ((kind, name, path, len, sha); null-path sentinel for an empty
    * entry), so the marker doubles as the group's integrity
    * manifest — the checkpoint trees especially are many small
    * loss-prone files, and a restore from a damaged copy would
    * silently replay the wrong window. Member FAMILIES are recorded
    * as one `fam` row each — (kind=fam, name=family base,
    * path=[[famFingerprint]], len=marker rows) — because their file
    * identity belongs to the family-level audit (which understands
    * differential borrows and promote materialization); the
    * fingerprint pins the family marker's restore-point CONTENT
    * while staying invariant under [[TextOps.promoteBackup]]. */
  private def writeGroupMarker(spark: SparkSession, marker: String,
      famBases: Seq[String], tag: String,
      tables: Seq[String], cks: Seq[String]): Unit = {
    // state-table and checkpoint rows carry each file's md5 (r17):
    // unlike the family members (hashed while copying), these hash
    // here with one extra read — of copies that are small BY DESIGN
    // (ledgers, hash store, checkpoint logs), so the take stays
    // cheap and the deep audit covers the whole group, not just the
    // families
    def fileRows(kind: String, name: String,
        loc: org.apache.hadoop.fs.Path, files: Seq[(String, Long)]) =
      if (files.isEmpty)
        Seq((kind, name, null: String, 0L, null: String))
      else files.map { case (p, l) => (kind, name, p, l,
        TextOps.hashDataFile(spark, loc, p)) }
    val rows =
      famBases.map { f =>
        val (hex, n) = famFingerprint(spark, s"${f}_bakok_$tag")
        ("fam", f, hex, n, null: String)
      } ++
      tables.flatMap(t => fileRows("table", t,
        TextOps.tableLocation(spark, t), TextOps.listDataFiles(spark, t))) ++
      cks.flatMap { p =>
        val root = new org.apache.hadoop.fs.Path(p)
        fileRows("ck", p, root, TextOps.listFilesUnder(spark, root))
      }
    val sp = spark
    import sp.implicits._
    rows.toDF("kind", "name", "path", "len", "sha").coalesce(1)
      .write.mode("overwrite").saveAsTable(marker)
  }

  /** Where a group-marker entry lives now: a `table` row's table
    * location, a `ck` row's directory; None when it is gone. */
  private def entryRoot(spark: SparkSession, kind: String,
      name: String): Option[org.apache.hadoop.fs.Path] =
    if (kind == "table")
      Some(name).filter(spark.catalog.tableExists)
        .map(TextOps.tableLocation(spark, _))
    else {
      val path = new org.apache.hadoop.fs.Path(name)
      Some(path).filter(_.getFileSystem(
        spark.sparkContext.hadoopConfiguration).exists(path))
    }

  /** READ-ONLY audit of a group copy backup: the group marker must
    * exist, every state-table copy / checkpoint backup directory it
    * records must still hold EXACTLY the files it committed with
    * ((name, len) identity), every member family it records must
    * still carry a family marker whose [[famFingerprint]] matches the
    * committed one (src-insensitive, so a promote keeps the group
    * green while an out-of-band family re-take under the tag is
    * named), and no unrecorded copy may sit under the tag among the
    * names the restore would resurrect as live members (ADVICE r16
    * #1). All O(metadata), unless `deep`. Nil = restores as taken. */
  private def checkGroupBackup(spark: SparkSession, g: IndexGroup,
      tag: String, deep: Boolean): Seq[String] = {
    val marker = g.marker(tag)
    if (!spark.catalog.tableExists(marker))
      return Seq(
        if (g.families.exists(f =>
            spark.catalog.tableExists(s"${f}_bak_$tag")))
          s"copies exist but no group marker $marker — the backup " +
            "crashed mid-group; re-take it"
        else s"no backup (no group marker $marker)")
    val rawSha = spark.table(marker).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        Option(r.getString(2)), r.getLong(3), r.getString(4)))
    val fams = rawSha.collect { case (("fam", f), Some(hex), n, _) =>
      (f, hex, n) }.toSeq
    val recorded = rawSha.filterNot(_._1._1 == "fam")
      .groupBy(_._1)
      .map { case (k, rows) =>
        k -> rows.flatMap(r => r._2.map(p => (p, r._3))).toSet
      }
    val recordedNames = recorded.keySet
      .map { case (kind, n) => (kind, n.toLowerCase) } ++
      fams.map { case (f, _, _) => ("fam", f.toLowerCase) }
    val famProblems = fams.sortBy(_._1).flatMap { case (f, hex, n) =>
      val fm = s"${f}_bakok_$tag"
      if (!spark.catalog.tableExists(fm))
        Seq(s"$f: family recorded in the group marker but its " +
          s"backup marker $fm is missing")
      else {
        val (nowHex, nowN) = famFingerprint(spark, fm)
        if (nowHex == hex) Nil
        else Seq(s"$f: family backup marker content changed since " +
          s"the group take ($nowN rows now vs $n committed) — " +
          "an out-of-band family re-take under the tag? The group's " +
          "ledgers and checkpoints no longer pair with it; re-take " +
          "the group")
      }
    }
    val famExtras = g.families
      .filterNot(f => recordedNames(("fam", f.toLowerCase)))
      .flatMap { f =>
        (f +: TextOps.BackupSiblings.map(f + _))
          .map(m => s"${m}_bak_$tag")
          .filter(spark.catalog.tableExists)
          .map(c => s"$c: copy exists but its family is not in the " +
            "group marker (restore would resurrect it as a member) — " +
            "re-take the backup")
      }
    val tableExtras = g.stateTables.map(t => s"${t}_bak_$tag")
      .filter(t => spark.catalog.tableExists(t) &&
        !recordedNames(("table", t.toLowerCase)))
      .map(t => s"$t: copy exists but is not in the group marker " +
        "(restore would resurrect it as a member) — re-take the " +
        "backup")
    val ckExtras = g.streams.map(ckBak(spark, _, tag).toString)
      .filter(p => entryRoot(spark, "ck", p).nonEmpty &&
        !recordedNames(("ck", p.toLowerCase)))
      .map(p => s"$p: checkpoint backup exists but is not in the " +
        "group marker (restore would resurrect it) — re-take the " +
        "backup")
    // DEEP pass (opt-in, r17): re-hash every recorded state-table /
    // checkpoint file against its take-time md5 — same-length bit
    // rot inside a committed copy is invisible to the (name, len)
    // identity above. Family members deep-audit via the per-family
    // chain audit [[checkBackup]] appends. One distributed re-hash job
    // ([[TextOps.hashFilesDistributed]] — the at-scale deep-read path).
    val deepProblems =
      if (!deep) Nil
      else {
        val gathered = rawSha.toSeq.filterNot(_._1._1 == "fam")
          .collect { case ((kind, n), Some(p), _, sha) =>
            (kind, n, p, sha) }
          .sortBy(r => (r._2, r._3))
          .flatMap { case (kind, n, p, sha) =>
            entryRoot(spark, kind, n).toSeq
              .filter(loc => loc.getFileSystem(
                spark.sparkContext.hadoopConfiguration)
                .exists(new org.apache.hadoop.fs.Path(loc, p)))
              .map(loc => (n, p, loc.toString, sha))
          }
        val got = TextOps.hashFilesDistributed(spark,
          gathered.map { case (_, p, loc, _) => (loc, p) })
        gathered.flatMap { case (n, p, loc, h) =>
          if (got((loc, p)) == h) Nil
          else Seq(s"$n: $p content mismatch (recorded md5 $h, " +
            s"found ${got((loc, p))} — bit rot or tamper at " +
            "unchanged length); re-take the backup")
        }
      }
    deepProblems ++ famProblems ++
    recorded.toSeq.sortBy(_._1).flatMap { case ((kind, n), files) =>
      entryRoot(spark, kind, n).map { loc =>
        if (kind == "table") TextOps.listDataFiles(spark, n).toSet
        else TextOps.listFilesUnder(spark, loc).toSet
      } match {
        case None =>
          Seq(s"$n: recorded in the group marker but missing")
        case Some(cur) =>
          (files -- cur).toSeq.sorted.map { case (p, l) =>
            s"$n: committed file $p ($l bytes) lost or changed " +
              "since the backup"
          } ++
          (cur -- files).toSeq.sorted.map { case (p, _) =>
            s"$n: file $p not in the group marker (written into " +
              "the copy after commit?)"
          }
      }
    } ++ famExtras ++ tableExtras ++ ckExtras
  }

  /** READ-ONLY audit of a group's `<tag>` copy backup
    * ([[checkGroupBackup]]) plus each member family's chain audit
    * (r17): a differential family copy's BORROWED files live in base
    * tags' copies the group marker never recorded — the family-level
    * [[TextOps.checkBackup]] covers them. `deep` adds the opt-in
    * O(bytes) content re-hash, group rows AND member families. */
  def checkBackup(spark: SparkSession, g: IndexGroup,
      tag: String = "bak", deep: Boolean = false): Seq[String] = {
    TextOps.requireTag("checkBackup", tag)
    checkGroupBackup(spark, g, tag, deep) ++
      g.families
        .filter(f => spark.catalog.tableExists(s"${f}_bakok_$tag"))
        .flatMap(f => TextOps.checkBackup(spark, f, tag, deep))
  }

  /** RESTORE a group to its `<tag>` backup — members, state tables
    * and checkpoints together (see [[backup]] for why re-invoking the
    * streams afterwards converges on the never-crashed state).
    * Members, ledgers or checkpoints created AFTER the backup are
    * dropped; the `_hold` registries are never touched. Refuses
    * before mutating anything without the backup, or when its full
    * audit (incl. the extras pass: an out-of-band copy under the tag
    * would be resurrected as a member by the restoreTable sweep)
    * finds a problem. */
  def restore(spark: SparkSession, g: IndexGroup,
      tag: String = "bak"): Seq[String] =
    TextOps.withBuildLock(spark) {
      val anyCopy = g.families.exists(f =>
        spark.catalog.tableExists(s"${f}_bak_$tag"))
      require(spark.catalog.tableExists(g.marker(tag)) || !anyCopy,
        s"restore: backup ${g.base}/$tag has copies but no group " +
          "marker — the backup crashed mid-group; re-take it")
      require(anyCopy,
        s"restore: no backup for base ${g.base} tag $tag — refusing " +
          "to touch the live family without its snapshot")
      val audit = checkBackup(spark, g, tag)
      require(audit.isEmpty,
        s"restore: backup ${g.base}/$tag failed its integrity audit " +
          s"— ${audit.take(5).mkString("; ")}" +
          (if (audit.size > 5) s" (+${audit.size - 5} more)" else "") +
          " — re-take the backup")
      // family members restore through the marker-aware family verb
      // (r17): a differential family copy resolves its borrowed
      // files across the base tags' copies; a family with no marker
      // under the tag did not exist at snapshot — its live members
      // drop (the restoreTable absence contract, kept verbatim)
      val members = g.families.flatMap { f =>
        if (spark.catalog.tableExists(s"${f}_bakok_$tag"))
          TextOps.restoreIndex(spark, f, tag)
        else
          (f +: TextOps.BackupSiblings.map(f + _))
            .flatMap(TextOps.restoreTable(spark, _, tag))
      }
      val state = g.stateTables.flatMap(TextOps.restoreTable(spark, _, tag))
      val cks = g.streams.flatMap(restoreCk(spark, _, tag))
      members ++ state ++ cks
    }

  /** PROMOTE a group's differential backup to self-contained:
    * [[TextOps.promoteBackup]] for every member family committed
    * under the tag. State-table copies and checkpoint trees were
    * already taken in full (they ARE the deltas), so nothing else
    * moves; the group marker's family rows are src-insensitive
    * fingerprints ([[famFingerprint]]), so it stays valid as-is — no
    * group rewrite, no crash window at this level, and the group
    * audit is green at EVERY point of a promote (finished or crashed
    * mid-way). Afterwards the group's base tag drops clean
    * ([[dropBackup]] stops refusing) and the group pruners stop
    * holding it back. */
  def promote(spark: SparkSession, g: IndexGroup,
      tag: String = "bak"): Seq[String] =
    TextOps.withBuildLock(spark) {
      TextOps.requireTag("promote", tag)
      require(spark.catalog.tableExists(g.marker(tag)),
        s"promote: no committed backup group marker ${g.marker(tag)} " +
          "— a crashed group re-takes, it does not promote")
      g.families.filter(f => spark.catalog.tableExists(s"${f}_bakok_$tag"))
        .flatMap(TextOps.promoteBackup(spark, _, tag))
    }

  /** [[TextOps.restoreIndexAs]] lifted to a group — the drill / branch
    * twin of the in-place [[restore]]: build SCRATCH member families
    * at `asBase` from the committed `<tag>` group backup, live group
    * and backup untouched. SERVING side only, by design: the member
    * families restore (differential chains resolved, per-family
    * integrity audited, clobber refused per member by the family
    * verb); the hash store, replay ledgers, and checkpoint trees do
    * NOT ride along — a branch serves probes, it does not ingest, and
    * resuming streams under a different base is not a meaningful
    * operation ([[restore]] is the recovery verb). Group-committed
    * sets only: the group marker is required, so a crashed group
    * take cannot be drilled into a frankenstein branch. */
  def restoreAs(spark: SparkSession, g: IndexGroup, tag: String,
      asBase: String): Seq[String] =
    TextOps.withBuildLock(spark) {
      TextOps.requireTag("restoreAs", tag)
      require(asBase != g.base,
        "restoreAs: asBase must differ from the live base (use the " +
          "in-place group restore to converge)")
      require(spark.catalog.tableExists(g.marker(tag)),
        s"restoreAs: no committed group backup ${g.base}/$tag (marker " +
          s"${g.marker(tag)} absent) — nothing to drill")
      val present = g.families.filter(f =>
        spark.catalog.tableExists(s"${f}_bakok_$tag"))
      require(present.nonEmpty,
        s"restoreAs: group ${g.base}/$tag records no member-family " +
          "backups")
      present.flatMap(f => TextOps.restoreIndexAs(spark, f, tag,
        asBase + f.stripPrefix(g.base)))
    }

  // ---- O(metadata) stream-level snapshots (r15): manifest twins --
  // ---- of backup/restore for append windows                     --

  /** `locate` for stream-state manifest entries: a `<stream>_ck`
    * entry resolves to the checkpoint directory, anything else to
    * its table location. */
  private def streamLocate(spark: SparkSession, streams: Seq[String])
      : String => Option[org.apache.hadoop.fs.Path] = {
    val cks = streams.map(n => ckDir(spark, n).getName -> n).toMap
    m => cks.get(m) match {
      case Some(n) => entryRoot(spark, "ck", ckDir(spark, n).toString)
      case None => TextOps.locateTable(spark)(m)
    }
  }

  /** O(METADATA) SNAPSHOT of a group — the manifest twin of [[backup]]
    * for append-dominated windows: member families via
    * [[TextOps.snapshotIndex]] (file manifests + O(1) copies of the
    * rewritten-in-place config members), PLUS a stream-state
    * manifest over the state tables (hash store, replay ledgers) and
    * the checkpoint DIRECTORIES — ledger and checkpoint snapshot as a
    * pair, so [[restoreSnapshot]] keeps the replay-exactness contract
    * the copy-based pair proves (StreamRestoreSpec): re-invoking the
    * streams after a restore replays exactly the post-snapshot files.
    * Checkpoint logs are write-once per batch, so they manifest like
    * data files; a stream-log compaction (like a member fold without
    * an anchor) makes the manifest unrestorable and the restore
    * refuses to the copy-based pair. Both manifests are written by
    * [[TextOps.writeManifest]]. */
  def snapshot(spark: SparkSession, g: IndexGroup,
      tag: String = "snap"): Seq[String] =
    TextOps.withBuildLock(spark) {
      TextOps.requireTag("snapshot", tag)
      val present = g.families.filter(spark.catalog.tableExists)
      require(present.nonEmpty, s"snapshot: no family at base ${g.base}")
      // the stream manifest is the GROUP's commit marker (required by
      // the restore, written last) — retire it before re-snapshotting
      // the member families, so a crashed re-take never leaves the
      // previous group manifest over fresh member snapshots (r16)
      val mf = s"${g.base}_mf_$tag"
      dropTableClean(spark, mf)
      val fams = present.flatMap(TextOps.snapshotIndex(spark, _, tag))
      val loc = streamLocate(spark, g.streams)
      val entries = (g.stateTables ++
        g.streams.map(ckDir(spark, _).getName))
        .flatMap(m => loc(m).map(m -> _))
      val n = TextOps.writeManifest(spark, mf, entries)
      fams :+ s"manifest $mf: $n stream-state files across " +
        s"${entries.size} entries"
    }

  /** Converge a group to its `<tag>` manifest snapshot — all member
    * families and the stream state validate BEFORE anything mutates
    * (no half-restored groups), then prune. Validation and pruning are
    * the family verbs' own ([[TextOps.manifestProblems]],
    * [[TextOps.pruneToManifest]]), so a member folded under
    * `FoldGuard.Anchor` restores from the tag's anchor; only history
    * rewritten without an anchor refuses to the copy-based pair. */
  def restoreSnapshot(spark: SparkSession, g: IndexGroup,
      tag: String = "snap"): Seq[String] =
    TextOps.withBuildLock(spark) {
      TextOps.requireTag("restoreSnapshot", tag)
      val mfT = s"${g.base}_mf_$tag"
      require(spark.catalog.tableExists(mfT),
        s"restoreSnapshot: no stream manifest $mfT — refusing to " +
          "touch the live family without its snapshot")
      val snapped = g.families.filter(f =>
        spark.catalog.tableExists(s"${f}_mf_$tag"))
      require(snapped.nonEmpty,
        s"restoreSnapshot: no member-family manifests under tag $tag")
      // GLOBAL phase 1 — every member family AND the stream state
      // validate before anything mutates, so a refusal can never
      // leave a half-restored group (family A pruned, family B's
      // compaction refused)
      val loc = streamLocate(spark, g.streams)
      val sm = TextOps.readManifest(spark, mfT)
      TextOps.requireConvergent(snapped.flatMap(f =>
        TextOps.manifestProblems(spark, tag,
          TextOps.readManifest(spark, s"${f}_mf_$tag"),
          TextOps.locateTable(spark))) ++
        TextOps.manifestProblems(spark, tag, sm, loc),
        "stream backup/restore pair")
      // phase 2 — member families (their own validation re-passes),
      // then the stream state: prune manifest entries, remove
      // entries born after the snapshot (ledger + checkpoint rewind
      // as a PAIR, the ledgeredIngest contract)
      val famOut = snapped.flatMap(TextOps.restoreSnapshot(spark, _, tag))
      val pruned = TextOps.pruneToManifest(spark, tag, sm, loc)
      val droppedT = g.stateTables.filterNot(sm.contains)
        .filter(spark.catalog.tableExists).map { m =>
          spark.sql(s"DROP TABLE $m")
          s"dropped $m (absent at snapshot)"
        }
      val droppedCk = g.streams.map(n => ckDir(spark, n))
        .filter(d => !sm.contains(d.getName))
        .filter(d => d.getFileSystem(
          spark.sparkContext.hadoopConfiguration).exists(d))
        .map { d =>
          d.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(d, true)
          s"deleted ck ${d.getName} (absent at snapshot)"
        }
      // a whole member FAMILY born after the snapshot (no manifest
      // under this tag) converges by dropping — same absence
      // contract as a member table, one level up
      val droppedFams = g.families.filterNot(snapped.contains).flatMap(f =>
        (f +: TextOps.BackupSiblings.map(f + _))
          .filter(spark.catalog.tableExists)
          .map { m =>
            spark.sql(s"DROP TABLE $m")
            s"dropped $m (family absent at snapshot)"
          })
      famOut ++ pruned ++ droppedT ++ droppedCk ++ droppedFams
    }

  /** READ-ONLY restorability audit of a group snapshot — the group
    * twin of [[TextOps.checkSnapshot]]: every member family's file
    * manifest + meta copies, plus the stream-state manifest (state
    * tables, checkpoints). Run it on the snapshot cadence; a
    * maintenance fold or a stream-log compaction flips a family to
    * non-restorable, which should be discovered NOW, not on recovery
    * day. Nil = restores clean. */
  def checkSnapshot(spark: SparkSession, g: IndexGroup,
      tag: String = "snap"): Seq[String] = {
    TextOps.requireTag("checkSnapshot", tag)
    val mfT = s"${g.base}_mf_$tag"
    if (!spark.catalog.tableExists(mfT))
      return Seq(s"no stream manifest $mfT")
    val snapped = g.families.filter(f =>
      spark.catalog.tableExists(s"${f}_mf_$tag"))
    (if (snapped.isEmpty) Seq(s"no member-family manifests under tag $tag")
      else Nil) ++
      snapped.flatMap(TextOps.checkSnapshot(spark, _, tag)) ++
      TextOps.manifestProblems(spark, tag,
        TextOps.readManifest(spark, mfT), streamLocate(spark, g.streams))
  }

  // ---- one-call observe/audit/heal (r15) --------------------------

  /** The members the observe/heal verbs visit: every member of a
    * document group, the STORED members of a vector group (a family
    * absent from this deployment is skipped, matching the backup
    * verbs). */
  private def visited(spark: SparkSession,
      g: IndexGroup): Seq[GroupMember] =
    if (g.skipAbsent)
      g.members.filter(m => spark.catalog.tableExists(m.table))
    else g.members

  /** One-call `describe`: member-family name → status. */
  def describe(spark: SparkSession,
      g: IndexGroup): Map[String, TextOps.IndexStatus] =
    visited(spark, g).map(m => m.table -> m.family.describe(spark)).toMap

  /** One-call cadence advisory: each member's `due()` prefixed with
    * its family, PLUS the admission-drift advisory for the ingest and
    * CDC histories (separate ledgers keep separate batch-id spaces and
    * therefore separate baselines) — a rule whose latest-batch
    * violation rate broke out of its own trailing baseline
    * ([[admissionDrift]]) is upstream trouble the maintenance cadence
    * should surface without a separate dashboard, and it belongs HERE
    * because the response is operational (inspect the quarantine, fix
    * the feed) before the poisoned-feed valve ever trips — PLUS the
    * quarantine backlog. Nil = nothing due.
    */
  def due(spark: SparkSession, g: IndexGroup,
      policy: MaintenancePolicy = MaintenancePolicy()): Seq[String] =
    describe(spark, g).toSeq.sortBy(_._1)
      .flatMap { case (m, st) => st.due(policy).map(v => s"$m: $v") } ++
      driftAdvisories(spark, g.base, g.sinkPrefixes.map(p =>
        s"${p}_admission" -> s"${p}_quarantine")) ++
      backlogAdvisories(spark, g.sinkPrefixes.map(_ + "_quarantine"))

  /** Quarantine-backlog advisories for the due() cadence (r18):
    * quarantined rows are evidence, but rows that SIT there are also
    * unworked remediation — the cadence check names the backlog and
    * the verb that clears it, the same way fold/compaction debt is
    * named with its verb. Empty or absent sinks are silent. */
  private def backlogAdvisories(spark: SparkSession,
      sinks: Seq[String]): Seq[String] =
    sinks.filter(spark.catalog.tableExists).flatMap { q =>
      val agg = spark.table(q)
        .agg(count(lit(1)), countDistinct(col("_batch"))).head
      if (agg.getLong(0) == 0L) Nil
      else Seq(s"remediate-quarantine:$q rows=${agg.getLong(0)} " +
        s"batches=${agg.getLong(1)}")
    }

  /** The admission-drift advisories for a set of (admission sink,
    * quarantine sink) histories. */
  private def driftAdvisories(spark: SparkSession, base: String,
      sinks: Seq[(String, String)]): Seq[String] =
    sinks.filter { case (a, _) => spark.catalog.tableExists(a) }
      .flatMap { case (a, q) =>
        val d = admissionDrift(spark, base, sink = Some(a))
        val latest = d.agg(max("batch")).head
        if (latest.isNullAt(0)) Nil
        else d.where(col("batch") === latest.getLong(0) &&
            col("drifted"))
          .select("rule", "rate").collect().toSeq
          .map(r => f"admission-drift:${r.getString(0)} " +
            f"rate=${r.getDouble(1)}%.3f — latest batch broke its " +
            s"trailing baseline; inspect $q before the valve trips")
      }

  /** One-call structural audit — violations prefixed with the member
    * family, Nil = healthy. */
  def fsck(spark: SparkSession, g: IndexGroup): Seq[String] =
    visited(spark, g).flatMap(m =>
      m.family.fsck(spark).map(v => s"${m.table}: $v"))

  /** One-call repair: each member family's idempotent fsck-mapped
    * heal pass, in the ingest loop's member order. Same contract as
    * the per-family verbs — a clean family is a no-op, an unhealable
    * violation refuses loudly. */
  def repair(spark: SparkSession, g: IndexGroup): Seq[String] =
    visited(spark, g).flatMap(m =>
      m.family.repair(spark).map(v => s"${m.table}: $v"))

  /** One-call maintenance pass over the group's members.
    * `refreshWith` supplies the corpus for a vector group's quantizer
    * families' opt-in drift leg (the runbook's scheduling note:
    * without it, drift is never gauged — by design); a document group
    * has no quantizer and refuses one. */
  def maintain(spark: SparkSession, g: IndexGroup,
      policy: MaintenancePolicy = MaintenancePolicy(),
      refreshWith: Option[org.apache.spark.sql.DataFrame] = None,
      guard: FoldGuard = FoldGuard.Refuse): Seq[String] = {
    require(refreshWith.isEmpty || g.quantized,
      s"maintain: a ${g.kind} group has no quantizer family to refresh")
    visited(spark, g).flatMap(m => m.family.maintain(spark, policy,
      refreshWith.filter(_ => m.family.quantized), guard)
      .map(v => s"${m.table}: $v"))
  }

  /** Refresh the caller session's view of every member table, the hash
    * store and `extra`: the stream batches and the heal wrote them in
    * another session, whose relation cache is separate — a stale
    * listing would miss appended files (or fail on an overwritten
    * table's vanished part file). */
  private def refreshMembers(spark: SparkSession, g: IndexGroup,
      extra: Seq[String] = Nil): Unit =
    (g.members.flatMap(m => m.ingestTables :+ m.family.delTable) ++
        g.hashStore ++ extra)
      .foreach(t => if (spark.catalog.tableExists(t))
        spark.catalog.refreshTable(t))

  /** Subtract every member's hold registry from an incoming batch. */
  private def exceptHeld(s: SparkSession, g: IndexGroup,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    g.members.foldLeft(df)((d, m) =>
      TextOps.exceptHeld(d, s, m.family.holdTable, g.idCol))

  /** STREAMING DELETES — the CDC shape: deletion requests arrive as a
    * file stream of id rows and each micro-batch drives [[delete]]
    * behind the shared replay ledger (the group's own delete stream
    * `<base>_dels` / `<base>_vdels`, untouched by ingests and
    * vacuums, so a vacuum dropping the tombstone lists never resets
    * this stream into replaying old deletions). Tombstoning is
    * idempotent (an (id, gen) pair appends once), so a replayed batch
    * changes nothing. The caller-session relation
    * caches of the touched lists refresh on return.
    */
  def streamingDeletes(spark: SparkSession, path: String,
      g: IndexGroup): Unit = {
    resetDeleteLedgerIfCheckpointLost(spark, g.deleteStream)
    ledgeredIngest(spark, path, g.deleteStream, refresh = Seq(),
      (batch, _, _) => delete(batch.sparkSession, g, batch.toDF()))
    refreshMembers(spark, g)
  }

  /** STREAMING UPSERTS — the CDC refresh shape (VERDICT r13 #1's
    * streaming twin): re-crawled documents (or re-embedded vectors)
    * arrive as a file stream of full rows and each micro-batch drives
    * every member's upsert ([[TextOps.upsertBm25Docs]],
    * [[TextOps.upsertBandDocs]], the vector families' `upsert`) behind
    * the group's own replay ledger (`<base>_ups` / `<base>_vups`) —
    * ONE upsert definition with batch, so CDC-refreshed and
    * batch-refreshed indexes cannot drift (UpsertSpec gates probe
    * parity). maxFilesPerTrigger=1 makes each arriving file its own
    * batch in listing order, so a later file's version of an id
    * supersedes an earlier file's (each batch takes a fresh
    * generation barrier); WITHIN one file the CDC-compacted contract
    * applies — at most one version per id. On a checkpoint loss the
    * ledger resets and everything replays: upserts converge by
    * content (each replayed batch re-supersedes at a higher barrier),
    * the delete-stream recovery argument in generation form. A
    * document group's `_hashes` store is deliberately untouched —
    * ids, not content hashes, drive an upsert, and hash-recognition
    * of previously seen content must survive the refresh.
    */
  def streamingUpserts(spark: SparkSession, path: String,
      g: IndexGroup,
      maintain: Option[MaintenancePolicy] = None,
      admission: Seq[graft.operators.Quality.Rule] = Nil,
      maxQuarantineRate: Double = 1.0): Unit =
    groupStream(spark, g, path, "streamingUpserts", cdc = true, maintain,
      admission, maxQuarantineRate)(b => g.members.foreach(_.upsert(b)))

  /** Checkpoint/ledger PAIRING for the delete streams (review r13):
    * a lost checkpoint with a surviving ledger silently skips every
    * new deletion — batch ids restart at 0, the old ledger marks 0
    * applied, and AvailableNow bundles ALL files (old + new) into
    * that one skipped batch. Deletions are content-level idempotent
    * (tombstone anti-join), so the safe move on a
    * checkpoint loss is dropping the ledger and REPLAYING everything
    * — re-deleting an already-deleted id is exactly a no-op. (The
    * INGEST loops cannot do this: replaying appends would duplicate
    * stored rows, which is why their recovery is the member-loss
    * reset instead.)
    */
  private def resetDeleteLedgerIfCheckpointLost(spark: SparkSession,
      table: String): Unit = {
    val ck = ckDir(spark, table)
    val fs = ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ledger = table + "_ledger"
    if (!fs.exists(ck) && spark.catalog.tableExists(ledger)) {
      dropTableClean(spark, ledger)
      dropAdmissionSinks(spark, table)
    }
  }

  /** Drop a stream's admission audit sinks — a ledger reset restarts
    * batch ids at 0 and a replay may re-batch the files, so slices
    * from the previous life would read as duplicated audit rows.
    * Re-derivable by design. */
  private def dropAdmissionSinks(spark: SparkSession,
      prefix: String): Unit =
    sinkPair(prefix).foreach(dropTableClean(spark, _))

  /** Drop a SIBLING CDC stream's ledger + checkpoint so its files
    * replay on the next invocation (ADVICE r14): when an ingest
    * loop's member-loss reset fires, it drops the members and replays
    * the ORIGINAL corpus at gen 0 — but the upsert twin's `_ups`
    * ledger and checkpoint would survive, so the CDC files that
    * superseded those originals would never replay. The replacement
    * rows are gone with the dropped member while the replayed gen-0
    * originals stay dead under the surviving finite barriers — the
    * upserted documents would vanish entirely. Upserts converge by
    * content (each replayed batch re-supersedes at a fresh barrier),
    * so a full CDC replay is exactly the delete-stream recovery
    * argument in generation form: safe, idempotent, and the only
    * state that restores the superseded content. The delete twin
    * needs no such reset (its tombstones survive in `_del`).
    */
  private def resetSiblingCdcStream(spark: SparkSession,
      table: String): Unit = {
    val ck = ckDir(spark, table)
    val fs = ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(ck)) { fs.delete(ck, true); () }
    dropTableClean(spark, table + "_ledger")
    dropAdmissionSinks(spark, table)
  }

  /** ONE-CALL VECTOR INGEST (VERDICT r12 #7, the vector twin): a
    * single file-streamed loop that maintains EVERY stored vector
    * index — ANN band postings + payload, BQ signatures, SQ8 codes,
    * PQ codes, IVF cells — per micro-batch behind ONE ledger, through
    * the same per-family append definitions batch maintenance uses
    * (parity gated in UnifiedIngestSpec). The trained artifacts must
    * pre-exist for the frozen-quantizer families (PQ codebook, IVF
    * centroids — ingest never retrains; refused loudly otherwise);
    * ANN banding config comes from the explicit parameters on first
    * ingest and is pinned in `_cfg` thereafter.
    */
  def streamingAllIndexIngest(spark: SparkSession, sfDir: String,
      base: String,
      nBands: Int = graft.operators.AnnIndex.NBands,
      bits: Int = graft.operators.AnnIndex.Bits,
      dim: Int = graft.operators.AnnIndex.Dim,
      maintain: Option[graft.operators.TextOps.MaintenancePolicy] =
        None,
      admission: Seq[graft.operators.Quality.Rule] = Nil,
      maxQuarantineRate: Double = 1.0): Unit = {
    val pqT = s"${base}_pq"
    val ivfT = s"${base}_ivf"
    require(spark.catalog.tableExists(pqT + "_cb"),
      s"streamingAllIndexIngest: no stored codebook ${pqT}_cb — train " +
        "with PqIndex.trainCodebook first (ingest never retrains)")
    require(spark.catalog.tableExists(ivfT + "_cent"),
      s"streamingAllIndexIngest: no stored quantizer ${ivfT}_cent — " +
        "build with IvfIndex.write first (ingest never retrains)")
    groupStream(spark, IndexGroup.vectors(base),
      s"$sfDir/embeddings.parquet", "streamingAllIndexIngest", cdc = false,
      maintain, admission, maxQuarantineRate) { b =>
      graft.operators.AnnIndex.append(b, s"${base}_ann", nBands, bits, dim)
      graft.operators.BqIndex.append(b, s"${base}_bq", dim)
      graft.operators.SqIndex.append(b, s"${base}_sq", dim)
      graft.operators.PqIndex.append(b, pqT)
      graft.operators.IvfIndex.append(b, ivfT)
    }
  }

  /** THE ENTRY of a group's rows from its two fed streams — the ingest
    * (`cdc = false`: the `<base>` stream, whose member loss resets it)
    * and the CDC upserts (`cdc = true`: `g.upsertStream`, one file per
    * batch so a later file's version of an id supersedes an earlier
    * one's). Per micro-batch, behind the stream's replay ledger:
    *   1. the GATE — the members' holds first (r18: the member writes
    *      re-filter as a backstop, but a held row that violates a rule
    *      must not land its content in the quarantine sink), then the
    *      admission rules and valve ([[admitBatch]], sinks under the
    *      stream's own prefix — CDC batch ids live in their own ledger
    *      and must not collide with ingest slices). The footer check
    *      reads the unfiltered batch: the hold anti join can blank
    *      `input_file_name()` past its exchange;
    *   2. the [[door]], whose member writes are `write`;
    *   3. after the ledger commit, the per-batch maintenance pass when
    *      a policy rides along (r14), FoldGuard.Anchor (r17: a refusal
    *      would crash an unattended batch; anchoring keeps the stream
    *      and any pinned snapshots serving).
    * The ingest's reset list is `g.ingestTables` — the audit sinks stay
    * out of it, so pruning an audit sink never resets the group. A
    * reset replays the sibling CDC stream ([[resetSiblingCdcStream]]) and
    * drops the ingest's audit sinks (a reset replay may re-batch the
    * files, and a lingering partition from the previous life would
    * read as duplicated audit rows). The CDC stream never resets; a
    * lost checkpoint drops its ledger instead
    * ([[resetDeleteLedgerIfCheckpointLost]]). On return the caller's
    * session refreshes the members, the hash store and the stream's
    * audit sinks: the batches wrote them from cloned sessions.
    */
  private def groupStream(spark: SparkSession, g: IndexGroup, path: String,
      what: String, cdc: Boolean, maintain: Option[MaintenancePolicy],
      admission: Seq[graft.operators.Quality.Rule],
      maxQuarantineRate: Double)(write: DataFrame => Unit): Unit = {
    require(maxQuarantineRate >= 0.0 && maxQuarantineRate <= 1.0,
      s"$what: maxQuarantineRate must be in [0, 1]")
    val stream = if (cdc) g.upsertStream else g.base
    if (cdc) resetDeleteLedgerIfCheckpointLost(spark, stream)
    ledgeredIngest(spark, path, stream,
      refresh = if (cdc) Nil else g.ingestTables,
      append = (batch, _, bid) => {
        val s = batch.sparkSession
        val (admitted, annOpt) = admitBatch(s, exceptHeld(s, g, batch),
          admission, maxQuarantineRate, stream, bid, what,
          source = Some(batch))
        try door(g, cdc, admitted)(write)
        finally annOpt.foreach(_.unpersist())
      },
      onReset = s => {
        resetSiblingCdcStream(s, g.upsertStream)
        dropAdmissionSinks(s, g.base)
      },
      maxFilesPerTrigger = if (cdc) Some(1) else None,
      afterBatch = s => maintain.foreach(p =>
        g.members.foreach(_.maintainBatch(s, p))))
    refreshMembers(spark, g, if (admission.nonEmpty) sinkPair(stream) else Nil)
  }

  /** THE DOOR through which rows enter a group's members: a stream's
    * admitted batch ([[groupStream]]) or a quarantine heal
    * ([[remediateQuarantine]]). The ingest side of a group with a hash
    * store takes the ingest door's trimmings ([[ingestDoorTrim]]) and
    * lands the novelty's hash rows after the member writes; any other
    * entry persists the rows as they are. Either way the member writes
    * in `write` share one cached frame, released on return.
    */
  private def door(g: IndexGroup, cdc: Boolean, rows: DataFrame)(
      write: DataFrame => Unit): Unit = {
    val s = rows.sparkSession
    val trim = if (cdc) None else g.hashStore
    val entry = trim.fold(rows.persist())(ingestDoorTrim(s, rows, _))
    try {
      write(entry)
      trim.foreach(appendHashRows(s, entry, _))
    } finally {
      entry.unpersist()
      ()
    }
  }

  /** RETENTION for the admission audit sinks: delete the `_batch`
    * partition directories of `<base>_quarantine` and
    * `<base>_admission` that `r` picks, highest batch id first (batch
    * ids are monotone within a ledger life, so newest = highest id).
    * A partition's age is its newest file's mtime — batch ids carry no
    * clock, and a replay re-stamps its slice's files, which is
    * correct: re-derived evidence is NEW evidence. Only an age policy
    * lists a partition's contents. The sinks are re-derivable audit
    * trails, not index state — pruning them never touches the family
    * and never triggers a reset (they are deliberately outside the
    * reset-membership list). Runs under the cross-process build lock
    * (r18): a prune racing a [[scrubQuarantine]] overwrite of the same
    * partition could resurrect the pruned rows from the scrub's
    * checkpointed remnant.
    */
  def pruneAdmissionAudit(spark: SparkSession, base: String,
      r: Retention): Seq[String] =
    TextOps.withBuildLock(spark) {
      auditSinks(base).filter(spark.catalog.tableExists).flatMap { t =>
        val loc = TextOps.tableLocation(spark, t)
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        def newestMtime(p: org.apache.hadoop.fs.Path): Long = {
          val kids = fs.listStatus(p)
          val own = kids.filter(_.isFile).map(_.getModificationTime)
          val sub = kids.filter(_.isDirectory).map(s =>
            newestMtime(s.getPath))
          (own ++ sub :+ 0L).max
        }
        val parts = fs.listStatus(loc).toSeq
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("_batch="))
          .sortBy(st => -st.getPath.getName.stripPrefix("_batch=").toLong)
        val victims = r.select(parts)(st => newestMtime(st.getPath))
        victims.foreach(st => fs.delete(st.getPath, true))
        if (victims.nonEmpty) spark.catalog.refreshTable(t)
        victims.map(st => s"dropped $t/${st.getPath.getName}")
      }
    }

  /** Remove every row matching `ids` (on `idCol`) from a
    * batch-partitioned quarantine sink, rewriting ONLY the touched
    * `_batch` partitions (dynamic partition overwrite — the
    * writeBatchSlice discipline) and deleting partitions the scrub
    * left empty as directories (a dynamic overwrite cannot see them —
    * the pruneAdmissionAudit mechanism). Absent table, absent id
    * column (a doc-side scrub against a vector-side sink), or no
    * matches are all no-ops. Returns the touched batch ids.
    *
    * The remnant frame reads the table it rewrites — it materializes
    * through an eager localCheckpoint BEFORE the overwrite (the
    * consistentProbe discipline), so the insert plans from cached
    * rows, not from the files it is replacing.
    *
    * Runs under the cross-process build lock (r18): a scrub is a
    * read-modify-write of whole partitions, so two concurrent scrubs
    * of one sink (a hold stamped from two sessions, or a hold racing
    * a remediation) would last-writer-win and RESURRECT the other's
    * scrubbed rows — for a hold that is a no-trace contract breach,
    * not mere staleness. The lock is reentrant, so locked callers
    * (the hold verbs' members, remediation's upserts) compose.
    */
  private[graft] def scrubQuarantine(s: SparkSession, table: String,
      ids: org.apache.spark.sql.DataFrame, idCol: String): Seq[Long] =
    if (!s.catalog.tableExists(table)) Nil
    else graft.operators.TextOps.withBuildLock(s) {
      val q = s.table(table)
      if (!q.columns.contains(idCol)) Nil
      else {
        val key = ids.select(col(idCol)).distinct()
        val touched = q.join(key, Seq(idCol), "left_semi")
          .select(col("_batch")).distinct()
          .collect().map(_.getLong(0)).sorted.toSeq
        if (touched.isEmpty) Nil
        else {
          val remaining = q.where(col("_batch").isin(touched: _*))
            .join(key, Seq(idCol), "left_anti")
            .localCheckpoint(true)
          try {
            val still = remaining.select(col("_batch")).distinct()
              .collect().map(_.getLong(0)).toSet
            if (still.nonEmpty) {
              // partition column LAST for the position-based insertInto
              val ordered =
                q.columns.filterNot(_ == "_batch") :+ "_batch"
              val out = remaining.select(ordered.map(col): _*)
              val mode = "spark.sql.sources.partitionOverwriteMode"
              val prev = s.conf.getOption(mode)
              s.conf.set(mode, "dynamic")
              try out.write.mode("overwrite").insertInto(table)
              finally prev match {
                case Some(v) => s.conf.set(mode, v)
                case None => s.conf.unset(mode)
              }
            }
            val emptied = touched.filterNot(still)
            if (emptied.nonEmpty) {
              val loc = graft.operators.TextOps.tableLocation(s, table)
              val fs = loc.getFileSystem(
                s.sparkContext.hadoopConfiguration)
              emptied.foreach { b =>
                fs.delete(
                  new org.apache.hadoop.fs.Path(loc, s"_batch=$b"),
                  true)
                ()
              }
            }
            s.catalog.refreshTable(table)
          } finally {
            // through the LogicalRDD — Dataset.unpersist silently
            // no-ops on localCheckpoint blocks (late r18)
            graft.operators.TextOps.unpersistCheckpoint(remaining)
            ()
          }
          touched
        }
      }
    }

  /** The document ingest door's own TRIMMINGS — ONE definition shared
    * by [[streamingDocumentIngest]]'s batch body and the ingest-side
    * heal in [[remediateQuarantine]] (late r18, review: two
    * near-verbatim copies would silently desync exactly the parity
    * the remediation contract promises). Curation gate, in-batch
    * keep-lowest exact dedup on content hash, and the `hashT`
    * anti-join (content already indexed under another id stays
    * deduped). Returns the PERSISTED novel frame carrying
    * `content_hash` — the caller unpersists, and pairs it with
    * [[appendHashRows]] so a future redelivery of the same content
    * is recognized, not re-indexed.
    */
  private def ingestDoorTrim(s: SparkSession,
      batch: org.apache.spark.sql.DataFrame, hashT: String)
      : org.apache.spark.sql.DataFrame = {
    val gated = graft.operators.TrainingData.curateGate(batch)
      .withColumn("content_hash", md5(col("text")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("content_hash").orderBy(col("doc_id"))
    val inBatch = gated.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
    (if (s.catalog.tableExists(hashT))
      inBatch.join(s.table(hashT), Seq("content_hash"), "left_anti")
    else inBatch).persist()
  }

  /** The hash-store append paired with [[ingestDoorTrim]]. */
  private def appendHashRows(s: SparkSession,
      novel: org.apache.spark.sql.DataFrame, hashT: String): Unit = {
    graft.operators.TextOps.clearOrphanLocation(s, hashT)
    novel.select(col("content_hash"), col("doc_id"))
      .write.mode("append")
      .bucketBy(8, "content_hash").sortBy("content_hash")
      .saveAsTable(hashT)
  }

  /** QUARANTINE REMEDIATION — the verb that closes the admission
    * lifecycle (r18): rejected rows sit in `<sink>_quarantine` with
    * their reasons; re-delivering the source batch is the STREAM's
    * recovery, but a fixable defect (a mislabeled language, a
    * truncatable overflow, a re-embeddable vector) deserves an
    * operator verb that heals IN PLACE. This core:
    *
    *   1. scopes the HEALED ID SET (optionally to ids appearing in
    *      `batches`) and picks ONE representative per id over the
    *      WHOLE sink — highest `_batch` wins, the CDC last-writer
    *      discipline, even when the latest rejected delivery sits in
    *      an out-of-scope batch (the scrub in step 5 is table-wide,
    *      so a scope-local pick would heal a stale version AND
    *      destroy the newer version's evidence). The representative
    *      set satisfies the at-most-one-version-per-id contract every
    *      upsert verb requires;
    *   2. drops held ids (defense in depth — the hold verbs scrub
    *      them from quarantine, but a hold stamped between read and
    *      fix must still win);
    *   3. applies the caller's `fix` and re-runs the SAME admission
    *      rules. No valve here: remediation is operator-attended, and
    *      "most rows still fail" is an ANSWER (the summary), not a
    *      poisoned feed. A fix that drops the id column — or MERGES
    *      ids into duplicates (the upsert verbs take at most one
    *      version per id) — is refused before anything mutates;
    *   4. hands rows that now PASS to `ingest` (the caller wires the
    *      family's own upsert verbs — supersede-by-id, so a heal can
    *      never double-index an id that entered by another door, and
    *      a TERMINALLY deleted id stays deleted: the member upserts
    *      drop it, the delete contract outranks the heal);
    *   5. scrubs healed ids from the sink TABLE-WIDE (their older
    *      quarantined copies are superseded evidence) and returns a
    *      per-batch summary (batch, quarantined, healed, remaining).
    *
    * Re-running with the same fix CONVERGES: healed rows are gone
    * from the sink, the upserts re-supersede by content, the summary
    * reports zeros. A ledger REPLAY of the original stream re-derives
    * its quarantine slices from the feed — the original rejects
    * reappear (the audit reflects what the feed delivered), and
    * re-running the remediation converges again (the ingest side's
    * hash gate and the upsert barriers make the re-heal a no-op).
    */
  private def remediateCore(s: SparkSession, sinkPrefix: String,
      idCol: String, holds: Seq[String],
      fix: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      admission: Seq[graft.operators.Quality.Rule],
      batches: Option[Seq[Long]],
      ingest: org.apache.spark.sql.DataFrame => Unit)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sp = s
    import sp.implicits._
    val qT = s"${sinkPrefix}_quarantine"
    def summary(rows: Seq[(Long, Long, Long, Long)])
        : org.apache.spark.sql.DataFrame =
      rows.toDF("batch", "quarantined", "healed", "remaining")
        .orderBy("batch")
    if (!s.catalog.tableExists(qT)) return summary(Nil)
    val q0 = s.table(qT)
    // `batches` scopes WHICH ids to heal; the representative VERSION
    // per id is picked over the WHOLE sink (late r18, review): the
    // scrub is table-wide, so picking the rep from the scoped slice
    // alone would heal a STALE version whenever the id's latest
    // rejected delivery sits in an out-of-scope batch — and then
    // destroy that newer version's evidence. LWW must hold across
    // the scope boundary.
    val pool = batches
      .map { bs =>
        val ids = q0.where(col("_batch").isin(bs: _*))
          .select(col(idCol).as("_scoped_id")).distinct()
        // null-safe (<=>): a NULL-id row (a NotNull violation whose
        // fix backfills the id) is one entity to the rep window, and
        // the unscoped path heals it — a plain equi-semi-join would
        // silently drop it from a SCOPED heal (late r18, review #2)
        q0.join(ids, col(idCol) <=> col("_scoped_id"), "left_semi")
      }
      .getOrElse(q0)
    // per-batch counts over the WHOLE sink (bounded by audit
    // retention): healed ids scrub table-wide, so out-of-scope
    // batches can shrink too and the summary must price them
    val before = q0.groupBy("_batch").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    if (before.isEmpty) return summary(Nil)
    val dataCols = q0.columns
      .filterNot(c => c == "violations" || c == "_batch")
    val w = Window.partitionBy(idCol)
      .orderBy(col("_batch").desc, col("violations"))
    val reps0 = pool
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .select(dataCols.map(col).toIndexedSeq: _*)
    val reps = holds.foldLeft(reps0)((d, h) =>
      graft.operators.TextOps.exceptHeld(d, s, h, idCol))
    val fixed = fix(reps)
    require(fixed.columns.contains(idCol),
      s"remediate($sinkPrefix): fix must preserve the '$idCol' column")
    val ann = graft.operators.Quality.annotate(fixed, admission)
      .persist()
    try {
      val healed = ann.where(size(col("violations")) === 0)
        .drop("violations")
      // the representative pick guarantees at-most-one-version-per-id
      // GOING IN, but the fix runs after it — a fix that MERGES ids
      // (canonicalization remapping two quarantined ids to one)
      // re-creates duplicates, and the family upsert verbs would
      // silently index BOTH versions live under one id (tombstone and
      // append share the batch's generation, so neither copy
      // supersedes the other — scores double-count). Refuse loudly
      // BEFORE anything mutates, the fix-must-preserve-idCol posture:
      // which merged version wins is fix semantics, so the fix must
      // collapse to one row itself. One aggregation over the
      // persisted quarantine-sized frame.
      val dups = healed.groupBy(col(idCol))
        .agg(count(lit(1)).as("_n")).where(col("_n") > 1)
        .select(col(idCol)).orderBy(col(idCol))
        .limit(5).collect().map(_.get(0))
      require(dups.isEmpty,
        s"remediate($sinkPrefix): fix produced duplicate '$idCol' " +
          s"values (e.g. ${dups.mkString(", ")}) — the upsert verbs " +
          "take at most one version per id; a fix that merges ids " +
          "must collapse them to one row itself (nothing was " +
          "indexed or scrubbed)")
      ingest(healed)
      scrubQuarantine(s, qT,
        healed.select(col(idCol)).distinct(), idCol)
    } finally {
      ann.unpersist()
      ()
    }
    s.catalog.refreshTable(qT)
    val after =
      if (s.catalog.tableExists(qT))
        s.table(qT).groupBy("_batch").count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      else Map.empty[Long, Long]
    val scopedBatches = batches.map(_.toSet).getOrElse(before.keySet)
    val rows = before.keysIterator
      .filter(b => scopedBatches(b) ||
        after.getOrElse(b, 0L) != before(b))
      .map { b =>
        val a = after.getOrElse(b, 0L)
        (b, before(b), before(b) - a, a)
      }
      .toSeq.sortBy(_._1)
    summary(rows)
  }

  /** [[remediateCore]] for a group: heal the ingest sink
    * (`cdc = false`, `<base>_quarantine`) or the CDC upsert sink
    * (`cdc = true`, `<base>_ups_quarantine` / `<base>_vups_quarantine`).
    * Healed rows enter through every member's own upsert
    * ([[streamingUpserts]]' fan-out) — supersede-by-id, so the heal is
    * safe even when the id later entered by another door (plain append
    * would double-index it), all members agree on the healed content at
    * their own barriers, and a terminal tombstone still outranks it.
    * INGEST-side heals of a document group additionally take the
    * ingest door's own trimmings, for parity with what a clean delivery
    * would have faced: the curation gate, the in-batch keep-lowest
    * exact dedup, the `<base>_hashes` anti-join (content already
    * indexed under another id stays deduped), and the healed novelty's
    * hash rows land so a future redelivery of the SAME fixed content is
    * recognized, not re-indexed. A curation- or dedup-dropped heal
    * still LEAVES quarantine — exactly as a clean delivery of it would
    * never have entered. CDC-side heals take the row as-is (that stream
    * never curates: an upsert is an operator-directed rewrite) and
    * leave `_hashes` alone (ids, not hashes, drive an upsert).
    */
  def remediateQuarantine(spark: SparkSession, g: IndexGroup,
      fix: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      admission: Seq[graft.operators.Quality.Rule],
      cdc: Boolean = false,
      batches: Option[Seq[Long]] = None)
      : org.apache.spark.sql.DataFrame = {
    val out = remediateCore(spark, if (cdc) g.upsertStream else g.base,
      g.idCol, g.members.map(_.family.holdTable), fix, admission, batches,
      // the streams' door (late r18 review): what a healed row faces
      // can never drift from what a clean delivery faces
      door(g, cdc, _)(e =>
        g.members.foreach(_.upsert(e.drop("content_hash")))))
    refreshMembers(spark, g)
    out
  }

  /** DRIFT GAUGE over the admission history — the poisoned-feed valve
    * is binary and per-batch; this sees trouble COMING: per-rule
    * violation rates across the batch history, with each batch's rate
    * compared to the rule's OWN trailing baseline (mean + k·std over
    * the `window` prior batches). A rule whose latest rate breaks out
    * flags `drifted` — upstream schema drift, an encoding change, a
    * new source mixing in — batches before the wholesale refusal
    * would fire. Pure DataFrame ops over `<base>_admission` (window
    * per rule over batch order — rules are few, batches bounded by
    * retention; nothing concentrates). Returns (rule, batch, rate,
    * base_mean, base_std, drifted), newest first; rows with no prior
    * baseline (first `minPrior` batches per rule) never flag.
    */
  def admissionDrift(spark: SparkSession, base: String,
      window: Int = 8, k: Double = 3.0, minPrior: Int = 3,
      minStd: Double = 0.01, sink: Option[String] = None)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = sink.getOrElse(s"${base}_admission")
    require(spark.catalog.tableExists(t),
      s"admissionDrift: no admission history $t — ingest with " +
        "admission rules first")
    val w = Window.partitionBy("rule").orderBy(col("_batch"))
      .rowsBetween(-window, -1)
    spark.table(t)
      .withColumn("rate",
        col("violations").cast("double") /
          greatest(col("total").cast("double"), lit(1.0)))
      .withColumn("base_mean", avg("rate").over(w))
      // std floored at minStd: a dead-flat baseline (all-identical
      // rates, std 0) must not flag on an epsilon uptick — the
      // breakout has to clear a minimum absolute band. A rule that
      // NEVER fired before still flags once its rate exceeds k*minStd.
      .withColumn("base_std",
        greatest(coalesce(stddev_samp(col("rate")).over(w), lit(0.0)),
          lit(minStd)))
      .withColumn("n_prior", count(lit(1)).over(w))
      .withColumn("drifted",
        col("n_prior") >= minPrior &&
          col("rate") > col("base_mean") + lit(k) * col("base_std"))
      .select(col("rule"), col("_batch").as("batch"), col("rate"),
        col("base_mean"), col("base_std"), col("drifted"))
      .orderBy(col("batch").desc, col("rule"))
  }

  /** THE admission gate applied to one micro-batch — shared by the
    * ingest loop and the CDC upsert stream (an upsert rewrites
    * content, so quality gates on ingest alone leave a side door):
    * write the quarantine and per-rule metrics slices under
    * `<sinkPrefix>_quarantine` / `<sinkPrefix>_admission` (idempotent
    * per batch id), enforce the wholesale-refusal valve, return the
    * admitted rows plus the persisted annotated frame for the caller
    * to unpersist after its appends land.
    */
  private[graft] def admitBatch(s: SparkSession,
      batch: org.apache.spark.sql.DataFrame,
      admission: Seq[graft.operators.Quality.Rule],
      maxQuarantineRate: Double, sinkPrefix: String, bid: Long,
      what: String,
      source: Option[org.apache.spark.sql.DataFrame] = None)
      : (org.apache.spark.sql.DataFrame,
        Option[org.apache.spark.sql.DataFrame]) = {
    if (admission.isEmpty) return (batch, None)
    // FOOTER drift (r18): the file-stream reader PINS a schema and
    // silently coerces drifted files before any rule can see the
    // break (missing columns read null, rogue columns vanish, some
    // retypes read null) — so on the streaming path a SchemaMatches
    // rule also inspects the batch's source parquet FOOTERS against
    // its expectation. Footer-only reads, a handful of files per
    // micro-batch. Any drift marks the WHOLE batch (feed-level
    // breaks have no per-row blame — the batch-surface semantics),
    // with the per-column names riding the quarantine and metrics
    // sinks like every other rule.
    // files come from `source` when the caller pre-filtered the batch
    // (exceptHeld's anti join can leave input_file_name() blank past
    // its exchange — the footer check must not silently skip there)
    val footerProblems: Seq[String] = admission.collectFirst {
      case sm: graft.operators.Quality.Rule.SchemaMatches => sm
    }.toSeq.flatMap { sm =>
      val files = source.getOrElse(batch)
        .select(input_file_name().as("f")).distinct()
        .collect().map(_.getString(0)).filter(_.nonEmpty).sorted
      // threshold-dispatched (late r18): a handful of files reads
      // driver-side, a backfill batch's tens of thousands fan out as
      // one Spark job — Quality.footerSchemas
      graft.operators.Quality.footerSchemas(s, files.toSeq)
        .flatMap(a => graft.operators.Quality.schemaProblems(a, sm))
        .distinct.sorted
    }
    val ann0 = graft.operators.Quality.annotate(batch, admission)
    val ann = (if (footerProblems.isEmpty) ann0
      else ann0.withColumn("violations",
        array_sort(array_union(col("violations"),
          typedLit("schema" +: footerProblems)))))
      .persist()
    val bad = ann.where(size(col("violations")) > 0)
      .withColumn("violations", concat_ws(",", col("violations")))
      .withColumn("_batch", lit(bid))
    writeBatchSlice(s, s"${sinkPrefix}_quarantine", bad)
    val metrics0 = graft.operators.Quality
      .metricsOfAnnotated(ann, admission)
    val metrics =
      if (footerProblems.isEmpty) metrics0
      else {
        // add one row per FOOTER-ONLY drifted column, counting every
        // batch row. Footer-only: when the PINNED batch schema is
        // itself drifted (a stream started — or re-invoked, the
        // ledgeredIngest re-infers — over an already-broken feed),
        // metricsOfAnnotated already emits that column's row from the
        // batch schema; unioning the footer copy unconditionally
        // would double the rule's row in the _admission slice and
        // double-count it in every gauge aggregating by rule (late
        // r18, review).
        val batchNames = admission.collectFirst {
          case sm: graft.operators.Quality.Rule.SchemaMatches =>
            val actual = org.apache.spark.sql.types.StructType(
              ann.schema.fields.filterNot(_.name == "violations"))
            graft.operators.Quality.schemaProblems(actual, sm).toSet
        }.getOrElse(Set.empty[String])
        val footerOnly = footerProblems.filterNot(batchNames)
        val sp2 = s
        import sp2.implicits._
        val total = ann.count()
        if (footerOnly.isEmpty) metrics0
        else metrics0.unionByName(footerOnly
            .map(p => (p, total, total))
            .toDF("rule", "total", "violations"))
          .orderBy("rule")
      }
    writeBatchSlice(s, s"${sinkPrefix}_admission",
      metrics.withColumn("_batch", lit(bid)))
    // SUM over zero rows is NULL — an EMPTY gated batch (reachable
    // when exceptHeld excludes every row of a micro-batch) must not
    // NPE here, and a replay of the same batch would hit it again
    // deterministically (r18, ADVICE)
    val counts = ann.agg(count(lit(1)).as("n"),
      coalesce(sum(when(size(col("violations")) > 0, 1L)
        .otherwise(0L)), lit(0L)).as("b")).head
    val (n, badN) = (counts.getLong(0), counts.getLong(1))
    if (n > 0 && badN > maxQuarantineRate * n) {
      // the refusal path never reaches the caller's finally — drop
      // the cached batch HERE or every refused invocation/replay pins
      // another copy in the block manager for the session's lifetime
      // (r18, ADVICE)
      ann.unpersist()
      throw new IllegalStateException(
        s"$what: batch $bid quarantined $badN/$n rows (> " +
          s"${maxQuarantineRate * 100}% threshold) — feed looks " +
          s"poisoned; evidence in ${sinkPrefix}_quarantine/" +
          s"_batch=$bid and ${sinkPrefix}_admission; fix upstream " +
          "and re-invoke (the ledger did not commit this batch)")
    }
    (ann.where(size(col("violations")) === 0).drop("violations"),
      Some(ann))
  }

  /** Idempotent per-batch audit-sink append: the frame (carrying a
    * `_batch` column) lands as ONE partition of `table`, and a REPLAY
    * of the same batch id dynamically overwrites exactly its own
    * partition — the audit trail converges under ledger replay the
    * same way the index does, instead of duplicating rows. Used by the
    * admission gate's quarantine and metrics sinks.
    *
    * Locked (r18, the [[scrubQuarantine]] rationale): a slice write
    * racing a scrub of the same partition is two read-modify-writes
    * of one directory — serialize them or the loser's evidence is
    * silently clobbered. Reentrant, so the surrounding batch's member
    * verbs (which take the same lock) compose.
    *
    * Wait, don't fail (r19, ADVICE #4): the lock's session-wide
    * 30 s acquire timeout is sized for interactive maintenance verbs,
    * where failing fast beats convoying — but HERE the caller is a
    * streaming micro-batch, and a timeout fails the whole query while
    * a long wait merely delays one batch. A maintenance verb holding
    * the lock for minutes (backupIndex raw-copies O(bytes)) must
    * stall this write, not kill the stream, so the slice write
    * stretches its outermost acquire to
    * `graft.buildLock.streamTimeoutMs` (default 5 min) — scoped to
    * this call, leaving every interactive verb on the fast-fail
    * default.
    */
  private def writeBatchSlice(s: SparkSession, table: String,
      df: org.apache.spark.sql.DataFrame): Unit =
      graft.operators.TextOps.withBuildLock(s,
        waitMsOverride = Some(
          s.conf.getOption("graft.buildLock.streamTimeoutMs")
            .map(_.toLong).getOrElse(300000L))) {
    // partition column must be LAST for position-based insertInto
    val ordered = df.columns.filterNot(_ == "_batch") :+ "_batch"
    val out0 = df.select(ordered.map(col): _*)
    if (!s.catalog.tableExists(table)) {
      graft.operators.TextOps.clearOrphanLocation(s, table)
      out0.write.partitionBy("_batch").saveAsTable(table)
    } else {
      // the audit table's shape is pinned by its FIRST batch; a
      // later slice whose feed drifted (r18 — exactly what
      // Rule.SchemaMatches quarantines) aligns BY NAME into that
      // shape: columns the slice lost write null, columns it gained
      // are named in `violations` (schema:extra:c) but not stored —
      // a drifted batch is refused wholesale by the valve anyway,
      // with the source files intact upstream. Without this, the
      // first drifted slice would fail the position-based insert and
      // take the stream down with it.
      val target = s.table(table).schema
      val out = out0.select(target.fields.map { f =>
        if (out0.columns.contains(f.name))
          col(f.name).cast(f.dataType).alias(f.name)
        else lit(null).cast(f.dataType).alias(f.name)
      }.toIndexedSeq: _*)
      // session-conf scoped, NOT a writer option: insertInto resolves
      // the overwrite mode from spark.sql.sources.partitionOverwriteMode
      // (a writer-level option is silently ignored here, which would
      // turn this into a STATIC overwrite wiping every other batch's
      // partition — caught by AdmissionSpec's retention leg)
      val key = "spark.sql.sources.partitionOverwriteMode"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "dynamic")
      try out.write.mode("overwrite").insertInto(table)
      finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    }
  }

  /** THE ledgered ingest loop — shared by every ledgered stream in
    * this file (review r12: two hand-rolled copies of the replay
    * machinery is exactly the one-definition-or-drift failure the
    * loop exists to prevent): file-stream the source,
    * apply each micro-batch through `append` behind the batch-id
    * replay ledger, stable warehouse checkpoint at `<table>_ck`
    * (orphan-cleaned with its paired ledger when the table is gone),
    * then refresh `refresh` for the caller's session — the batch
    * writes ran in the micro-batch's CLONED session, whose relation
    * cache is separate, and a stale listing would miss appended files
    * (or fail on an overwritten table's vanished part file). */
  private def ledgeredIngest(spark: SparkSession, path: String,
      table: String, refresh: Seq[String],
      append: (org.apache.spark.sql.DataFrame, String, Long) => Unit,
      onReset: SparkSession => Unit = _ => (),
      maxFilesPerTrigger: Option[Int] = None,
      afterBatch: SparkSession => Unit = _ => ()): Unit = {
    val schema = spark.read.parquet(path).schema
    val ledger = table + "_ledger"
    graft.operators.TextOps.clearOrphanLocation(spark, ledger)
    val ck = ckDir(spark, table)
    val fs = ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // reset keys on ANY member table missing, not just the primary
    // (ADVICE r12): for a multi-table ingest (bm25's `_docs` twin,
    // ANN's payload twin), losing only the sibling while postings + ledger
    // survive would otherwise skip every batch as already-applied and
    // never rebuild the lost member. The reset drops EVERY member, not
    // just the missing one: with the checkpoint gone the source replays
    // all files, and replaying into a surviving append table would
    // duplicate its rows
    if (refresh.exists(t => !spark.catalog.tableExists(t))) {
      if (fs.exists(ck)) { fs.delete(ck, true); () }
      // checkpoint and ledger are a PAIR: with the checkpoint reset,
      // batch ids restart at 0, and a surviving ledger from the
      // dropped table's previous life would mark every redelivered id
      // as already applied — the ingest would return success having
      // appended nothing (the silent-skip failure the r11
      // stable-checkpoint fix was about, reintroduced through the
      // table-drop path)
      (refresh :+ ledger).foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        graft.operators.TextOps.clearOrphanLocation(spark, t)
      }
      // the family's TOMBSTONE list (`_del`) is deliberately NOT in the
      // drop list — deletion is terminal per id, so tombstones must
      // survive a reset (and keep filtering the replayed rows)
      onReset(spark)
    }
    // AvailableNow honors the source rate limit: with a cap the run
    // still drains everything, split into ordered per-file batches —
    // the upsert streams use 1 so version order = file order
    val src = maxFilesPerTrigger.foldLeft(
        spark.readStream.schema(schema))(
      (r, n) => r.option("maxFilesPerTrigger", n))
    val q = src.parquet(path).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        val applied = s.catalog.tableExists(ledger) &&
          !s.table(ledger).filter(col("batch_id") === batchId).isEmpty
        if (!applied) {
          append(batch.toDF(), table, batchId)
          val sp = s
          import sp.implicits._
          Seq(batchId).toDF("batch_id")
            .write.mode("append").saveAsTable(ledger)
          // the maintenance hook (r14, VERDICT item 4): families wire
          // their policy pass here so an ingest loop self-maintains —
          // gauges are metadata-cheap and ops run only when tripped.
          // AFTER the ledger commit: a maintenance swap must never
          // make a completed append look unapplied on replay.
          afterBatch(s)
        }
      }
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    refresh.foreach { t =>
      if (spark.catalog.tableExists(t)) spark.catalog.refreshTable(t)
    }
  }

  /** Streaming BM25 INDEX INGEST — the online half of the maintenance
    * story streamingBm25 serves from: documents arrive as a file
    * stream and each micro-batch APPENDS its doc-local postings and
    * `_docs` rows to the bucketed incremental index
    * (TextOps.appendBm25Postings under foreachBatch — ONE
    * maintenance definition with batch, so stream-built and
    * batch-built indexes cannot drift; exact probe parity against
    * batch q_bm25 is gated in RetrievalSpec). Nothing already stored
    * is ever rewritten — per-batch cost is O(batch), never a corpus
    * re-scan, which is the whole 100 TB ingest contract.
    *
    * REPLAY GUARD: foreachBatch is at-least-once — a driver restart
    * redelivers batch ids, and a blind re-append would double every
    * posting. A `<table>_ledger` table records applied
    * batch ids; a redelivered id is skipped. The ledger write follows
    * the append non-atomically, so a crash exactly between them still
    * duplicates on replay — closing that last window needs a
    * transactional table format (the same caveat as upsertDirectory's
    * rename note above); one ingest stream per table, as the batch-id
    * namespace is per-query.
    *
    * STABLE CHECKPOINT (ADVICE r11): the checkpoint lives in the
    * warehouse at `<table>_ck`, derived from the table name — a fresh
    * temp checkpoint per invocation would restart batch ids at 0 every
    * run, making the ledger treat ANY later invocation on the same
    * table as a replay and silently drop genuinely NEW documents. With
    * the stable location, the checkpoint's file log also remembers
    * which source files are already ingested, so a re-invocation
    * processes only new arrivals (new batch ids, ledger passes) — the
    * incremental-ingest contract. The table name must be per-process
    * unique (TextOps.clearOrphanLocation's contract); pid-tokenized
    * names are reclaimed with their tables by the dead-pid sweep.
    */
  def streamingBm25Ingest(spark: SparkSession, sfDir: String,
      table: String): Unit =
    // point the source AT the table path, not at sfDir + glob: the
    // corpus ships both as a single documents.parquet FILE (testdata)
    // and as a directory of part files (anything Spark wrote), and a
    // leaf-name glob filter would see no files in the directory layout
    ledgeredIngest(spark, s"$sfDir/documents.parquet", table,
      refresh = Seq(table, table + "_docs"),
      append = (batch, t, _) => graft.operators.TextOps
        .appendBm25Postings(batch, t))

  private def corpusPrep(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_toks", size(split(trim(col("text")), "\\s+")))
      .filter(col("n_toks") >= 5)
      .withColumn("content_hash", md5(col("text")))
      .dropDuplicates("content_hash")
      // the one shared split definition — batch and streaming must
      // assign identically or resume/backfill mixes training sets
      .withColumn("split",
        graft.operators.TrainingData.splitCol(col("doc_id")))
      .select("doc_id", "split", "n_toks", "content_hash")

  case class Ev(user_id: Long, ts_us: Long, event_id: Long)
  case class UserStats(n: Long, min_us: Long, max_us: Long)
  case class UserStatsOut(user_id: Long, n_events: Long, first_us: Long,
      last_us: Long)

  /** Spark 4 `transformWithState` (the arbitrary-state successor to
    * flatMapGroupsWithState): per-user lifetime event stats held in a
    * typed ValueState, merged batch over batch. Emits each key's updated
    * stats per micro-batch; on a bounded replay the LAST row per key
    * equals the batch aggregate.
    */
  class UserStatsProcessor extends org.apache.spark.sql.streaming
      .StatefulProcessor[Long, Ev, UserStatsOut] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TTLConfig, ValueState}
    @transient private var st: ValueState[UserStats] = _
    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[UserStats]("stats",
        org.apache.spark.sql.Encoders.product[UserStats], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserStatsOut] = {
      var n = 0L
      var mn = Long.MaxValue
      var mx = Long.MinValue
      rows.foreach { e =>
        n += 1
        if (e.ts_us < mn) mn = e.ts_us
        if (e.ts_us > mx) mx = e.ts_us
      }
      val merged =
        if (st.exists()) {
          val p = st.get()
          UserStats(p.n + n, math.min(p.min_us, mn), math.max(p.max_us, mx))
        } else UserStats(n, mn, mx)
      st.update(merged)
      Iterator.single(
        UserStatsOut(key, merged.n, merged.min_us, merged.max_us))
    }
  }

  /** Run the transformWithState processor over the events file stream
    * (RocksDB state store — required by the transformWithState operator).
    */
  def userStatsTws(spark: SparkSession, sfDir: String,
      queryName: String = "stream_tws"): DataFrame = {
    val sp = spark
    import sp.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (raw, tsUs) = eventsStreamWithTs(spark, sfDir)
      drainToMemory(raw
        .selectExpr("user_id", tsUs, "event_id")
        .as[Ev]
        .groupByKey(_.user_id)
        .transformWithState(new UserStatsProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Append())
        .toDF(), queryName)
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }
  case class EvT(user_id: Long, ts_us: Long, event_id: Long,
      event_type: String)
  case class ClickSt(ts_us: Long, event_id: Long)
  case class AsOfOut(purchase_id: Long, user_id: Long, purchase_ts_us: Long,
      prev_click_id: Option[Long], prev_click_ts_us: Option[Long])

  /** Streaming as-of enrichment: each purchase carries the latest prior
    * click of the same user — the streaming twin of q_asof / the native
    * AsOfJoin. State per user is ONE row (the most recent click), not a
    * buffer, so memory is O(keys) regardless of stream length. Rows are
    * event-time-sorted within each micro-batch; across batches the
    * file-replay source preserves order, while a genuinely out-of-order
    * production source would need a small watermark-bounded reorder
    * buffer in front (the usual as-of stream caveat).
    */
  class AsOfProcessor extends org.apache.spark.sql.streaming
      .StatefulProcessor[Long, EvT, AsOfOut] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TTLConfig, ValueState}
    @transient private var lastClick: ValueState[ClickSt] = _
    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      lastClick = getHandle.getValueState[ClickSt]("lastClick",
        org.apache.spark.sql.Encoders.product[ClickSt], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[EvT],
        tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[AsOfOut] = {
      val out = scala.collection.mutable.ListBuffer[AsOfOut]()
      // buffers and heap-sorts ONE KEY's slice of the micro-batch: fine
      // under AvailableNow replay, but a hot key in a large trigger
      // interval concentrates its whole batch on this executor's heap —
      // production would bound the trigger (or pre-sort via a
      // watermark-bounded reorder buffer) before this operator.
      rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        if (e.event_type == "click") lastClick.update(ClickSt(e.ts_us, e.event_id))
        else if (e.event_type == "purchase") {
          val p = if (lastClick.exists()) Some(lastClick.get()) else None
          out += AsOfOut(e.event_id, key, e.ts_us,
            p.map(_.event_id), p.map(_.ts_us))
        }
      }
      out.iterator
    }
  }

  /** Run the streaming as-of over the events file stream (RocksDB store,
    * required by transformWithState).
    */
  def streamingAsOf(spark: SparkSession, sfDir: String,
      queryName: String = "stream_asof"): DataFrame = {
    val sp = spark
    import sp.implicits._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (raw, tsUs) = eventsStreamWithTs(spark, sfDir)
      drainToMemory(raw
        .filter(col("event_type").isin("click", "purchase"))
        .selectExpr("user_id", tsUs, "event_id", "event_type")
        .as[EvT]
        .groupByKey(_.user_id)
        .transformWithState(new AsOfProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          OutputMode.Append())
        .toDF(), queryName)
    } finally prev match {
      case Some(v) =>
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None =>
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  case class SessState(sessionIdx: Long, start: Long, end: Long, n: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
      start_us: Long, end_us: Long)

  /** Custom streaming state: gap-based sessionization via
    * flatMapGroupsWithState (KeyValueGroupedDataset — SURVEY.md §2.10
    * extension surface). Completed sessions emit when a gap closes them;
    * the open tail session stays in state (it would emit on timeout in a
    * live stream), so a bounded replay yields exactly the batch sessions
    * minus each user's last.
    */
  def streamingSessionize(spark: SparkSession, sfDir: String,
      gapMinutes: Int = 30,
      queryName: String = "stream_sessions"): DataFrame = {
    val sp = spark
    import sp.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val fn = (userId: Long, it: Iterator[Ev], state: GroupState[SessState]) => {
      // events within a micro-batch arrive unordered per group
      val evs = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
      val out = scala.collection.mutable.ListBuffer[SessionOut]()
      var st = state.getOption.getOrElse(SessState(0, -1L, -1L, 0L))
      evs.foreach { e =>
        if (st.start < 0) st = SessState(st.sessionIdx + 1, e.ts_us, e.ts_us, 1)
        else if (e.ts_us - st.end > gapUs) {
          out += SessionOut(userId, st.sessionIdx, st.n, st.start, st.end)
          st = SessState(st.sessionIdx + 1, e.ts_us, e.ts_us, 1)
        } else st = st.copy(end = e.ts_us, n = st.n + 1)
      }
      state.update(st)
      out.iterator
    }
    val (raw, tsUs) = eventsStreamWithTs(spark, sfDir)
    drainToMemory(raw
      .selectExpr("user_id", tsUs, "event_id")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(fn)
      .toDF(), queryName)
  }
}
