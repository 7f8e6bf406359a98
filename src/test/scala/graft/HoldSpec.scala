package graft

import graft.operators.{AnnIndex, BqIndex, IvfIndex, PqIndex, SqIndex, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** LEGAL-HOLD registry (r15, VERDICT item 4): vacuumIndex's honesty
  * note admitted "terminal" deletion is terminal only up to the next
  * vacuum (folding drops the tombstone entries with the dead rows),
  * and told callers needing forever-exclusion to own a registry
  * outside the index. The `<family>_hold` sibling IS that registry in
  * the engine: an append-only id set filtered at every append /
  * upsert / ingest / rebuild / retrain entry, surviving vacuum by
  * construction. The gated lifecycle: hold an id, delete it, VACUUM
  * (tombstones folded away), re-ingest the same id → still excluded;
  * describe() reports the hold count.
  */
class HoldSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()
  private def emb = Tables(spark, sf, "embeddings")

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("BM25: held doc survives delete+vacuum+re-ingest excluded; " +
      "stats never count it; describe reports the hold") {
    val t = s"hold_bm25_p$pid"
    val all = Seq(t, s"${t}_docs", s"${t}_del", s"${t}_hold", s"${t}_compact",
      s"${t}_old")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
      TextOps.appendBm25Postings(
        docs(1L -> "spark join window", 2L -> "hash scan merge",
          3L -> "window fast data"), t)
      // hold + delete doc 2 (hold gates ingest; delete removes the
      // already-stored content)
      TextOps.bm25Family(t).hold(spark, Seq(2L).toDF("doc_id"))
      TextOps.deleteBm25Docs(spark, t,
        Seq(2L).toDF("doc_id"))
      // VACUUM: terminal tombstones fold away — the exact hazard the
      // registry exists for
      TextOps.vacuumIndex(spark, s"${t}_del",
        Seq(t, s"${t}_docs"), "doc_id")
      assert(!spark.catalog.tableExists(s"${t}_del"))
      // re-ingest the held id (a re-crawl, a replayed batch...)
      TextOps.appendBm25Postings(
        docs(2L -> "resurrection attempt", 4L -> "new doc data"), t)
      val (lp, _) = TextOps.liveBm25(spark, t, "")
      assert(lp.filter(col("doc_id") === 2L).isEmpty,
        "held doc re-entered the index after vacuum")
      assert(!lp.filter(col("doc_id") === 4L).isEmpty)
      // stats equal a never-held-doc build: 1,3,4
      val tw = s"${t}_tw"
      drop(tw, s"${tw}_docs")
      TextOps.appendBm25Postings(
        docs(1L -> "spark join window", 3L -> "window fast data",
          4L -> "new doc data"), tw)
      assert(TextOps.liveBm25(spark, t, "")._2
        .select("n_docs", "sum_dl").collect()(0) ===
        TextOps.liveBm25(spark, tw, "")._2
          .select("n_docs", "sum_dl").collect()(0))
      drop(tw, s"${tw}_docs")
      // upsert cannot smuggle it back either
      TextOps.upsertBm25Docs(spark, t,
        docs(2L -> "second attempt"))
      val (lp2, _) = TextOps.liveBm25(spark, t, "")
      assert(lp2.filter(col("doc_id") === 2L).isEmpty)
      // observability
      assert(TextOps.bm25Family(t).describe(spark).holds === 1L)
      // holds dedup: re-holding appends nothing
      TextOps.bm25Family(t).hold(spark, Seq(2L).toDF("doc_id"))
      assert(spark.table(s"${t}_hold").count() === 1L)
    } finally drop(all: _*)
  }

  test("band: held doc excluded through append, upsert, and rebuild") {
    val t = s"hold_band_p$pid"
    val all = Seq(t, s"${t}_del", s"${t}_hold")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val docs = Tables(spark, sf, "documents")
      TextOps.bandFamily(t).hold(spark, Seq(10L).toDF("doc_id"))
      TextOps.writeBandIndex(docs.filter(col("doc_id") < 50), t)
      def has10 = !TextOps.liveBandIndex(spark, t)
        .filter(col("old_id") === 10L).isEmpty
      assert(!has10, "rebuild stored a held doc")
      TextOps.appendBandIndex(docs.filter(col("doc_id") === 10L), t)
      assert(!has10, "append stored a held doc")
      TextOps.upsertBandDocs(spark, t,
        docs.filter(col("doc_id") === 10L))
      assert(!has10, "upsert stored a held doc")
      assert(TextOps.bandFamily(t).describe(spark).holds === 1L)
    } finally drop(all: _*)
  }

  test("vector families: held id excluded from write/append/upsert; " +
      "survives vacuum; describe reports it") {
    val base = s"hold_vec_p$pid"
    val fams = Seq("ann", "bq", "sq", "pq", "ivf")
    val all = fams.flatMap { f =>
      val t = s"${base}_$f"
      Seq(t, s"${t}_vec", s"${t}_cent", s"${t}_cb", s"${t}_cfg",
        s"${t}_del", s"${t}_hold", s"${t}_compact", s"${t}_old",
        s"${t}_vec_compact", s"${t}_vec_old")
    }
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val held = Seq(20L).toDF("vec_id")
      def hold(f: String, t: String) = f match {
        case "ann" => AnnIndex.family(t).hold(spark, held)
        case "bq" => BqIndex.family(t).hold(spark, held)
        case "sq" => SqIndex.family(t).hold(spark, held)
        case "pq" => PqIndex.family(t).hold(spark, held)
        case "ivf" => IvfIndex.family(t).hold(spark, held)
      }
      def write(f: String, t: String): Unit = f match {
        case "ann" => AnnIndex.write(emb, t, nBands = 4, bits = 2)
        case "bq" => BqIndex.write(emb, t)
        case "sq" => SqIndex.write(emb, t)
        case "pq" => PqIndex.write(emb, t, m = 4, subDim = 16, ks = 8)
        case "ivf" => IvfIndex.write(emb, t, k = 4)
      }
      def upsert(f: String, t: String): Unit = {
        val b = emb.filter(col("vec_id") === 20L)
        f match {
          case "ann" => AnnIndex.upsert(b, t, nBands = 4, bits = 2)
          case "bq" => BqIndex.upsert(b, t)
          case "sq" => SqIndex.upsert(b, t)
          case "pq" => PqIndex.upsert(b, t)
          case "ivf" => IvfIndex.upsert(b, t)
        }
      }
      def vacuum(f: String, t: String): Unit = f match {
        case "ann" => AnnIndex.family(t).vacuum(spark)
        case "bq" => BqIndex.family(t).vacuum(spark)
        case "sq" => SqIndex.family(t).vacuum(spark)
        case "pq" => PqIndex.family(t).vacuum(spark)
        case "ivf" => IvfIndex.family(t).vacuum(spark)
      }
      def stored5(f: String, t: String): Boolean =
        !spark.table(t).filter(col("vec_id") === 20L).isEmpty
      def describeHolds(f: String, t: String): Long = (f match {
        case "ann" => AnnIndex.family(t).describe(spark)
        case "bq" => BqIndex.family(t).describe(spark)
        case "sq" => SqIndex.family(t).describe(spark)
        case "pq" => PqIndex.family(t).describe(spark)
        case "ivf" => IvfIndex.family(t).describe(spark)
      }).holds
      fams.foreach { f =>
        val t = s"${base}_$f"
        hold(f, t)
        write(f, t)
        assert(!stored5(f, t), s"$f write stored a held id")
        upsert(f, t)
        assert(!stored5(f, t), s"$f upsert stored a held id")
        // vacuum folds the upsert's barrier entries; the hold stays
        vacuum(f, t)
        assert(spark.catalog.tableExists(s"${t}_hold"), f)
        upsert(f, t)
        assert(!stored5(f, t), s"$f post-vacuum upsert stored a held id")
        assert(describeHolds(f, t) === 1L, f)
        // a quantizer family's retrain keeps the held id out of both
        // the training corpus and the stored rows
        f match {
          case "pq" => PqIndex.refresh(emb, t)
          case "ivf" => IvfIndex.refresh(emb, t)
          case _ => ()
        }
        assert(!stored5(f, t), s"$f refresh stored a held id")
      }
    } finally drop(all: _*)
  }

  private def rmCk(bases: String*): Unit = bases.foreach { t =>
    val ck = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase + "_ck")
    ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(ck, true)
  }

  test("streaming ingest + CDC upserts honor holds: a held doc leaves " +
      "NO trace (members, hash store) and cannot be resurrected") {
    val base = s"hold_sdoc_p${pid}"
    val members = Seq(s"${base}_band", s"${base}_band_del",
      s"${base}_band_hold", s"${base}_bm25", s"${base}_bm25_del",
      s"${base}_bm25_docs",
      s"${base}_bm25_hold", s"${base}_hashes", s"${base}_ledger",
      s"${base}_ups_ledger")
    val dir = java.nio.file.Files.createTempDirectory("graft_holdsdoc")
      .toString
    val upsDir = java.nio.file.Files
      .createTempDirectory("graft_holdsups").toString
    drop(members: _*)
    try {
      val sp = spark
      import sp.implicits._
      val docsT = Tables(spark, sf, "documents")
      val sub = docsT.filter(col("doc_id") < 40)
      // held ids must come from the CURATE-GATED population (else the
      // gate, not the hold, explains the exclusion) and be
      // hash-unique within the batch (else the in-batch dedup winner
      // is ambiguous)
      val hashUniq = graft.operators.TrainingData.curateGate(sub)
        .withColumn("h", md5(col("text")))
        .groupBy("h").agg(count(lit(1)).as("n"),
          min("doc_id").as("doc_id"))
        .filter(col("n") === 1)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(hashUniq.length >= 3, "fixture: need hash-unique gated docs")
      val held = hashUniq.take(2)
      // ONE call stamps both member registries — before any ingest
      streaming.StreamingOps.hold(spark, streaming.IndexGroup.documents(base),
        held.toDF("doc_id"))
      sub.write.mode("append").parquet(s"$dir/documents.parquet")
      streaming.StreamingOps.streamingDocumentIngest(spark, dir, base)
      def ids(t: String, c: String): Set[Long] =
        spark.table(t).select(col(c)).distinct()
          .collect().map(_.getLong(0)).toSet
      val bm = ids(s"${base}_bm25", "doc_id")
      val bd = ids(s"${base}_band", "old_id")
      val hs = ids(s"${base}_hashes", "doc_id")
      held.foreach { h =>
        assert(!bm.contains(h), s"held $h reached the bm25 postings")
        assert(!bd.contains(h), s"held $h reached the band index")
        // the no-trace contract: no hash row either, so clearing the
        // registry + re-delivering genuinely re-ingests
        assert(!hs.contains(h), s"held $h left a _hashes row")
      }
      // the hold is the ONLY exclusion: every other hash-unique gated
      // doc landed
      assert((hashUniq.drop(2).toSet -- bm).isEmpty,
        s"unheld gated docs missing: ${hashUniq.drop(2).toSet -- bm}")
      // CDC upserts route through the same registries: one file
      // carrying a held id's "update" and an unheld control — the
      // control's novel token lands, the held id stays out
      Seq(held.head -> "zzzheldtok data merge window spark",
        hashUniq(2) -> "zzzctrltok data merge window spark")
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(upsDir)
      streaming.StreamingOps.streamingUpserts(spark, upsDir,
        streaming.IndexGroup.documents(base))
      val toks = spark.table(s"${base}_bm25").select("token")
        .distinct().collect().map(_.getString(0)).toSet
      assert(toks.contains("zzzctrltok"), "control upsert did not land")
      assert(!toks.contains("zzzheldtok"),
        "a CDC upsert resurrected a held doc")
      assert(!ids(s"${base}_bm25", "doc_id").contains(held.head))
      assert(!ids(s"${base}_band", "old_id").contains(held.head))
    } finally {
      drop(members: _*)
      rmCk(base, s"${base}_ups")
    }
  }

  test("streaming vector ingest honors holds: held vec_ids never land " +
      "in bands or payload") {
    val vb = s"hold_svec_p${pid}"
    val t = s"${vb}_ann"
    val all = Seq(t, s"${t}_vec", s"${t}_cfg", s"${t}_del",
      s"${t}_ledger") ++
      Seq("ann", "bq", "sq", "pq", "ivf").map(f => s"${vb}_${f}_hold")
    val dir = java.nio.file.Files.createTempDirectory("graft_holdsvec")
      .toString
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val held = Seq(3L, 7L)
      // the one-call twin stamps all five family registries; this
      // stream maintains only the ANN member, which reads its own
      streaming.StreamingOps.hold(spark,
        streaming.IndexGroup.vectors(vb), held.toDF("vec_id"))
      emb.filter(col("vec_id") < 30).select("vec_id", "embedding")
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
      streaming.StreamingOps.streamingAnnIngest(spark, dir, t)
      def ids(tab: String): Set[Long] =
        spark.table(tab).select("vec_id").distinct()
          .collect().map(_.getLong(0)).toSet
      val bands = ids(t)
      val payload = ids(s"${t}_vec")
      held.foreach { h =>
        assert(!bands.contains(h), s"held $h reached the band postings")
        assert(!payload.contains(h), s"held $h reached the payload")
      }
      assert(bands.contains(4L) && payload.contains(4L),
        "unheld vectors missing — the stream itself broke")
      assert(AnnIndex.family(t).describe(spark).holds === 2L)
    } finally {
      drop(all: _*)
      rmCk(t)
    }
  }
}
