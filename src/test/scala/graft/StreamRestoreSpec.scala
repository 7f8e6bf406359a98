package graft

import graft.operators.{IvfIndex, PqIndex, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** STREAM-LEVEL BACKUP/RESTORE (r15) — point-in-time recovery for the
  * unified stream-fed families. The family-level verbs (BackupSpec)
  * snapshot tables; a STREAM-FED family also owes state to its replay
  * machinery, so `backupDocuments`/`backupVectors` snapshot the
  * ledgers and checkpoint directories as pairs with the members. The
  * contract under test is the strong one:
  *
  *   restore + re-invoking the streams  ≡  never having crashed.
  *
  * With the checkpoint inside the snapshot, the source replays
  * EXACTLY the files that arrived after the snapshot: pre-snapshot
  * files stay consumed (no duplicate appends — load-bearing for
  * vectors, whose appends have no content-hash dedup), post-snapshot
  * ingest/CDC files re-deliver and re-apply (idempotent by ledger
  * batch id and generation-barrier supersession). So the replayed
  * family must converge BIT-IDENTICALLY to the state it held before
  * the restore rewound it.
  */
class StreamRestoreSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()
  private def docs = Tables(spark, sf, "documents")
  private def emb = Tables(spark, sf, "embeddings")

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def rmCk(bases: String*): Unit = bases.foreach { t =>
    val ck = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase + "_ck")
    ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(ck, true)
  }

  /** Full observable state of a table set: sorted row strings per
    * existing table, an ABSENT marker otherwise — so "member dropped
    * at restore" and "member identical after replay" are both one
    * equality. */
  private def state(tables: Seq[String]): Map[String, Seq[String]] =
    tables.map { t =>
      t -> (if (spark.catalog.tableExists(t))
        spark.table(t).collect().map(_.toString).sorted.toSeq
      else Seq("ABSENT"))
    }.toMap

  test("documents: restore returns the snapshot; restore + stream " +
      "replay converges to the never-crashed state") {
    val base = s"sr_doc_p$pid"
    val members = Seq(s"${base}_band", s"${base}_band_del",
      s"${base}_bm25", s"${base}_bm25_del", s"${base}_bm25_docs",
      s"${base}_hashes")
    val ledgers = Seq(s"${base}_ledger", s"${base}_ups_ledger",
      s"${base}_dels_ledger")
    val baks = (members ++ ledgers).map(_ + "_bak_bak")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_srdoc").toString
    val upsDir = java.nio.file.Files
      .createTempDirectory("graft_srdocu").toString
    val delDir = java.nio.file.Files
      .createTempDirectory("graft_srdocd").toString
    drop(members ++ ledgers ++ baks: _*)
    rmCk(base, s"${base}_ups", s"${base}_dels")
    try {
      val sp = spark
      import sp.implicits._
      // pre-snapshot life: corpus file f1, one CDC upsert batch
      docs.filter(col("doc_id") < 20)
        .write.mode("append").parquet(s"$dir/documents.parquet")
      streaming.StreamingOps.streamingDocumentIngest(spark, dir, base)
      val anchor = spark.table(s"${base}_bm25")
        .select(min("doc_id")).collect()(0).getLong(0)
      Seq(anchor -> "alpha merge join spark window stream")
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(upsDir)
      streaming.StreamingOps.streamingUpserts(spark, upsDir,
        streaming.IndexGroup.documents(base))

      val snap = state(members)
      val written = streaming.StreamingOps.backup(spark,
        streaming.IndexGroup.documents(base))
      assert(written.exists(_.contains("_bm25_bak_bak")) &&
        written.exists(_.endsWith("_ck_bak_bak")), written.toString)

      // post-snapshot life: second corpus file, a CDC upsert, a CDC
      // delete — every stream moves past the snapshot
      docs.filter(col("doc_id") >= 20 && col("doc_id") < 40)
        .write.mode("append").parquet(s"$dir/documents.parquet")
      streaming.StreamingOps.streamingDocumentIngest(spark, dir, base)
      Seq(anchor -> "beta rewrite content after snapshot spark")
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(upsDir)
      streaming.StreamingOps.streamingUpserts(spark, upsDir,
        streaming.IndexGroup.documents(base))
      val victim = spark.table(s"${base}_bm25")
        .select(max("doc_id")).collect()(0).getLong(0)
      Seq(victim).toDF("doc_id")
        .coalesce(1).write.mode("append").parquet(delDir)
      streaming.StreamingOps.streamingDeletes(spark, delDir,
        streaming.IndexGroup.documents(base))
      val full = state(members)
      assert(full !== snap, "post-snapshot life must change state")

      val did = streaming.StreamingOps.restore(spark,
        streaming.IndexGroup.documents(base))
      assert(did.exists(_.startsWith("restored ")), did.toString)
      assert(state(members) === snap,
        "restore did not return the member snapshot")

      // the strong contract: re-invoking the three streams replays
      // exactly the post-snapshot files and converges on `full`
      streaming.StreamingOps.streamingDocumentIngest(spark, dir, base)
      streaming.StreamingOps.streamingUpserts(spark, upsDir,
        streaming.IndexGroup.documents(base))
      streaming.StreamingOps.streamingDeletes(spark, delDir,
        streaming.IndexGroup.documents(base))
      assert(state(members) === full,
        "restore + replay diverged from the never-crashed state")
      assert(TextOps.bm25Family(s"${base}_bm25").fsck(spark).isEmpty)
    } finally {
      drop(members ++ ledgers ++ baks: _*)
      rmCk(base, s"${base}_ups", s"${base}_dels")
    }
  }

  test("vectors: restore + replay converges bit-identically — the " +
      "checkpoint-in-snapshot design is what prevents duplicate appends") {
    val base = s"sr_vec_p$pid"
    val members = Seq(s"${base}_ann", s"${base}_ann_vec",
      s"${base}_ann_cfg", s"${base}_ann_del", s"${base}_bq",
      s"${base}_bq_cfg", s"${base}_bq_del", s"${base}_sq",
      s"${base}_sq_cfg", s"${base}_sq_del", s"${base}_pq",
      s"${base}_pq_cb", s"${base}_pq_del", s"${base}_ivf",
      s"${base}_ivf_cent", s"${base}_ivf_del")
    val ledgers = Seq(s"${base}_ledger", s"${base}_vups_ledger",
      s"${base}_vdels_ledger")
    val baks = (members ++ ledgers).map(_ + "_bak_bak")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_srvec").toString
    val upsDir = java.nio.file.Files
      .createTempDirectory("graft_srvecu").toString
    val delDir = java.nio.file.Files
      .createTempDirectory("graft_srvecd").toString
    drop(members ++ ledgers ++ baks: _*)
    rmCk(base, s"${base}_vups", s"${base}_vdels")
    try {
      val sp = spark
      import sp.implicits._
      // frozen-quantizer artifacts pre-exist (the ingest contract)
      PqIndex.trainCodebook(emb, s"${base}_pq")
      IvfIndex.write(emb.filter(col("vec_id") < 30), s"${base}_ivf")
      spark.sql(s"DROP TABLE ${base}_ivf") // keep only the quantizer

      emb.filter(col("vec_id") < 30).select("vec_id", "embedding")
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
      streaming.StreamingOps.streamingAllIndexIngest(spark, dir, base)
      val snap = state(members)
      streaming.StreamingOps.backup(spark, streaming.IndexGroup.vectors(base))

      // post-snapshot: more corpus, a re-embed upsert, a delete
      emb.filter(col("vec_id") >= 30 && col("vec_id") < 60)
        .select("vec_id", "embedding")
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
      streaming.StreamingOps.streamingAllIndexIngest(spark, dir, base)
      emb.filter(col("vec_id") === 5L)
        .select(col("vec_id"),
          expr("transform(embedding, x -> x + 1.0d)").as("embedding"))
        .coalesce(1).write.mode("append").parquet(upsDir)
      streaming.StreamingOps.streamingUpserts(spark, upsDir,
        streaming.IndexGroup.vectors(base))
      Seq(7L).toDF("vec_id")
        .coalesce(1).write.mode("append").parquet(delDir)
      streaming.StreamingOps.streamingDeletes(spark, delDir,
        streaming.IndexGroup.vectors(base))
      val full = state(members)
      assert(full !== snap)

      streaming.StreamingOps.restore(spark, streaming.IndexGroup.vectors(base))
      assert(state(members) === snap,
        "restore did not return the vector snapshot")
      // replay: same invocation order as the original life
      streaming.StreamingOps.streamingAllIndexIngest(spark, dir, base)
      streaming.StreamingOps.streamingUpserts(spark, upsDir,
        streaming.IndexGroup.vectors(base))
      streaming.StreamingOps.streamingDeletes(spark, delDir,
        streaming.IndexGroup.vectors(base))
      assert(state(members) === full,
        "restore + replay diverged from the never-crashed state")
      // no duplicate appends: a (vec_id, gen) pair appears once — the
      // upserted id legitimately has TWO rows (dead gen-0 original +
      // live barrier row); a replayed pre-snapshot FILE would instead
      // double ids at the SAME generation
      val dup = spark.table(s"${base}_ann_vec")
        .groupBy("vec_id", "gen").count()
        .filter(col("count") > 1).count()
      assert(dup === 0L, "replay duplicated payload rows")
    } finally {
      drop(members ++ ledgers ++ baks: _*)
      rmCk(base, s"${base}_vups", s"${base}_vdels")
    }
  }

  test("restore verbs refuse without a snapshot; stream state created " +
      "after the snapshot is rewound (ledger + checkpoint dropped)") {
    val base = s"sr_ref_p$pid"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_srref").toString
    val upsDir = java.nio.file.Files
      .createTempDirectory("graft_srrefu").toString
    val members = Seq(s"${base}_band", s"${base}_band_del",
      s"${base}_bm25", s"${base}_bm25_del", s"${base}_bm25_docs",
      s"${base}_hashes")
    val ledgers = Seq(s"${base}_ledger", s"${base}_ups_ledger",
      s"${base}_dels_ledger")
    val baks = (members ++ ledgers).map(_ + "_bak_bak")
    drop(members ++ ledgers ++ baks: _*)
    rmCk(base, s"${base}_ups", s"${base}_dels")
    try {
      val sp = spark
      import sp.implicits._
      intercept[IllegalArgumentException] {
        streaming.StreamingOps.restore(spark,
          streaming.IndexGroup.documents(base))
      }
      intercept[IllegalArgumentException] {
        streaming.StreamingOps.backup(spark,
          streaming.IndexGroup.documents(base))
      }
      intercept[IllegalArgumentException] {
        streaming.StreamingOps.restore(spark,
          streaming.IndexGroup.vectors(base))
      }
      docs.filter(col("doc_id") < 15)
        .write.mode("append").parquet(s"$dir/documents.parquet")
      streaming.StreamingOps.streamingDocumentIngest(spark, dir, base)
      streaming.StreamingOps.backup(spark, streaming.IndexGroup.documents(base))
      // the ups stream is born AFTER the snapshot
      val anchor = spark.table(s"${base}_bm25")
        .select(min("doc_id")).collect()(0).getLong(0)
      Seq(anchor -> "post snapshot upsert content spark")
        .toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(upsDir)
      streaming.StreamingOps.streamingUpserts(spark, upsDir,
        streaming.IndexGroup.documents(base))
      assert(spark.catalog.tableExists(s"${base}_ups_ledger"))
      val did = streaming.StreamingOps.restore(spark,
        streaming.IndexGroup.documents(base))
      assert(did.contains(
        s"dropped ${base}_ups_ledger (absent at snapshot)"),
        did.toString)
      assert(did.contains(s"dropped ck ${base}_ups (absent at snapshot)"),
        did.toString)
      assert(!spark.catalog.tableExists(s"${base}_ups_ledger"))
      // ledger + checkpoint rewound as a PAIR: replaying the CDC file
      // re-applies it (idempotent by content), never skips it
      streaming.StreamingOps.streamingUpserts(spark, upsDir,
        streaming.IndexGroup.documents(base))
      val txt = spark.table(s"${base}_bm25")
        .filter(col("doc_id") === anchor).select("token")
        .collect().map(_.getString(0)).toSet
      assert(txt.contains("snapshot"),
        "replayed CDC upsert was skipped after the rewind")
    } finally {
      drop(members ++ ledgers ++ baks: _*)
      rmCk(base, s"${base}_ups", s"${base}_dels")
    }
  }
}
