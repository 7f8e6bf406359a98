package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Quality, TextOps, TrainingData}
import graft.streaming.StreamingOps

/** The write side of the document store: one micro-batch file lands in
  * a family under a fresh base name, and the landing is followed by one
  * streaming ingest (admission rules, curation gate, exact dedup, band +
  * BM25 index appends, and the maintenance pass), a seeded delete of some
  * of the batch's ids, and a BM25 top-k probe through the live
  * (tombstone-filtered) index. After the round, outside its wall time,
  * the live document set and the probe are compared with a batch-built
  * index over the admitted, undeleted documents. */
final class DocStream(spark: SparkSession, rec: Recorder, sfDir: String,
    work: String, seed: Long) extends Workload {
  import DocStream._
  import spark.implicits._

  private val batchRoot = s"$work/state/batches"
  private val streamRoot = s"$work/stream"
  private val base = "perfbench_ds"
  private val admission = Seq(
    Quality.Rule.OneOf("lang", Seq("en", "fr", "es", "de")),
    Quality.Rule.InRange("n_chars", 100.0, 550.0))

  private var ids: Seq[Long] = Nil
  private var queryTerms: DataFrame = _

  /** Splits the documents into `Splits` files by a seeded hash of doc_id,
    * one parquet file per batch, rows in doc_id order; then reads the
    * landed batch's ids and draws the probe's query terms from its text. */
  def buildState(rep: Int): Unit = {
    spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("batch",
        pmod(xxhash64(col("doc_id"), lit(seed)), lit(Splits.toLong)))
      .repartition(1).sortWithinPartitions("batch", "doc_id")
      .write.mode("overwrite").partitionBy("batch").parquet(batchRoot)
    ids = batch().select("doc_id").as[Long].collect().toSeq.sorted
    val rnd = new scala.util.Random(seed)
    val words = batch().orderBy("doc_id").select("text").as[String]
      .collect().flatMap(_.trim.split("\\s+")).filter(_.length > 3)
      .distinct.sorted
    queryTerms = (0 until Queries).flatMap { q =>
      Seq.fill(2)(words(rnd.nextInt(words.length))).distinct.map(q -> _)
    }.toDF("q_id", "token")
  }

  /** The batch that lands: the first of the seeded split. */
  private def batchFile: Path =
    Files.list(Paths.get(s"$batchRoot/batch=0")).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get

  private def batch(): DataFrame = spark.read.parquet(batchFile.toString)

  /** Ids deleted after the batch lands: a seeded twentieth of it. */
  private def deleted: Seq[Long] =
    ids.filter(id => java.lang.Math.floorMod(mix(id, seed + 1), 20L) == 0L)

  private def topK(scored: DataFrame): Seq[String] =
    scored.withColumn("rk", row_number().over(Window.partitionBy("q_id")
        .orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rk") <= TopK)
      .select("q_id", "rk", "doc_id", "score").collect()
      .map(r => s"${r.get(0)}/${r.get(1)}/${r.get(2)}/${r.get(3)}").sorted
      .toSeq

  /** The live index read (storage), then the scoring operator. */
  private def probe(): Seq[String] = {
    val (postings, stats) =
      TextOps.liveBm25(spark, s"${base}_bm25", s"${base}_bm25_stats")
    rec.span("operators.TextOps", "bm25_score") {
      topK(TextOps.bm25ScoreIncr(queryTerms, postings, stats))
    }
  }

  /** What the family must hold after the round, derived without the
    * streaming path: rules, the curation gate and first-wins exact dedup,
    * minus the deleted ids; and the probe answer of a batch-built BM25
    * index over exactly those documents. */
  private def expected(): (Set[Long], Seq[String]) = {
    val rulesPass = col("lang").isNull ||
      col("lang").isin("en", "fr", "es", "de")
    val lenPass = col("n_chars").isNull ||
      col("n_chars").between(100.0, 550.0)
    val admitted = TrainingData.curateGate(batch().filter(rulesPass &&
        lenPass))
      .select(col("doc_id"), md5(col("text")).as("h")).as[(Long, String)]
      .collect().groupBy(_._2).values.map(_.map(_._1).min).toSet
    val live = admitted -- deleted
    TextOps.writeBm25Index(batch().filter(col("doc_id").isin(live.toSeq: _*)),
      "perfbench_ref_bm25")
    val ref = topK(TextOps.bm25Score(queryTerms,
      spark.table("perfbench_ref_bm25")))
    (live, ref)
  }

  private def attempt(kind: String, rows: Long)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    val ok =
      try { body; true }
      catch { case e: Exception =>
        System.err.println(s"[perfbench] doc_stream $kind failed: $e")
        false
      }
    Op(kind, kind, (System.nanoTime() - t0) / 1e9, ok, rows)
  }

  private var lastProbe: Seq[String] = Nil
  private var probeJobs = 0L

  /** One cold round: the ingest runs on an `AvailableNow` trigger, i.e.
    * as a job started for the files that have arrived, so the round times
    * the first batch of a freshly started JVM. Lands the batch, ingests
    * it, deletes from it and probes. */
  def round(): Seq[Op] = {
    val dir = Paths.get(streamRoot, "documents.parquet")
    rec.span("input", "land") {
      Files.createDirectories(dir)
      val staged = dir.resolve(".b00.tmp")
      Files.copy(batchFile, staged)
      Files.move(staged, dir.resolve("b00.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    val ingest = attempt("ingest", ids.size.toLong) {
      rec.span("streaming", "ingest") {
        StreamingOps.streamingDocumentIngest(spark, streamRoot, base,
          Some(TextOps.MaintenancePolicy()), admission)
      }
    }
    val del = deleted
    val delete = attempt("delete", del.size.toLong) {
      rec.span("streaming", "delete") {
        StreamingOps.deleteDocuments(spark, base, del.toDF("doc_id"))
      }
    }
    val jobs0 = rec.drained().getOrElse("jobs", 0L)
    val probed = attempt("probe", 0L) {
      lastProbe = rec.span("storage", "probe")(probe())
    }
    probeJobs = rec.drained().getOrElse("jobs", 0L) - jobs0
    Seq(ingest, delete, probed)
  }

  private def count(t: String): Long =
    if (spark.catalog.tableExists(t)) spark.table(t).count() else 0L

  /** Files and bytes under the warehouse that belong to the family. */
  private def stored(): (Long, Long) = {
    val files = Files.list(Paths.get(s"$work/warehouse")).iterator().asScala
      .filter(_.getFileName.toString.startsWith(base))
      .flatMap(p => Files.walk(p).iterator().asScala)
      .filter(p => Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith(".") &&
        !p.getFileName.toString.startsWith("_"))
      .toSeq
    (files.size.toLong, files.map(Files.size).sum)
  }

  /** The batch's admission counts, the family's storage gauges and the
    * Spark jobs of the probe (its two calls are both TextOps functions). */
  override def afterRound(): Map[String, Any] = {
    val quarantined = count(s"${base}_quarantine")
    val (files, bytes) = stored()
    Map(
      "landed_rows" -> ids.size.toLong, "quarantined_rows" -> quarantined,
      "admitted_rows" -> (ids.size - quarantined),
      "input_bytes" -> Files.size(batchFile), "stored_files" -> files,
      "stored_bytes" -> bytes, "probe_jobs" -> probeJobs,
      "tombstone_rows" ->
        (count(s"${base}_bm25_del") + count(s"${base}_band_del")))
  }

  /** Marks the ingest wrong when the family's final state differs from
    * the batch-built reference. */
  override def verify(ops: Seq[Op]): Seq[Op] = {
    val live = TextOps.liveBm25(spark, s"${base}_bm25", s"${base}_bm25_stats")
      ._1.select("doc_id").distinct().as[Long].collect().toSet
    val (wantLive, wantTop) = expected()
    val okLive = live == wantLive
    val okTop = lastProbe == wantTop
    if (!okLive) System.err.println(s"[perfbench] doc_stream: " +
      s"${live.size} live docs, expected ${wantLive.size}")
    if (!okTop) System.err.println(
      s"[perfbench] doc_stream: probe top-$TopK differs from the batch build")
    if (okLive && okTop) ops
    else ops.map(o => if (o.kind == "ingest") o.copy(ok = false) else o)
  }
}

object DocStream {
  /** Files the documents are split into; one of them lands in a run. */
  val Splits = 16
  val Queries = 4
  val TopK = 10

  /** splitmix64 of (id, seed): the seeded delete selection. */
  def mix(id: Long, seed: Long): Long = {
    var z = id * 0x9E3779B97F4A7C15L + seed
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}
