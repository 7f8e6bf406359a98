package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** STREAM-LEVEL MANIFEST SNAPSHOTS (r15) — the O(metadata) twin of
  * the copy-based stream backup (StreamRestoreSpec). Same contract,
  * different cost: members manifest their files, the tiny
  * rewritten-in-place stats/config members ride as O(1) copies, and
  * the stream state (hash store, ledgers, checkpoint DIRECTORIES)
  * manifests as a unit — ledger and checkpoint rewind as a pair, so
  *
  *   restore + re-invoking the streams  ≡  never having crashed
  *
  * holds for the manifest path exactly as for the copy path. The
  * refusal leg is the feature's honesty: a member compaction between
  * snapshot and restore makes pruning unable to reach the snapshot,
  * and the restore must refuse GLOBALLY before mutating ANY member
  * or checkpoint (no half-restored groups).
  */
class StreamSnapshotSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()
  private def docs = Tables(spark, sf, "documents")

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def rmCk(bases: String*): Unit = bases.foreach { t =>
    val ck = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase + "_ck")
    ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(ck, true)
  }

  private def state(tables: Seq[String]): Map[String, Seq[String]] =
    tables.map { t =>
      t -> (if (spark.catalog.tableExists(t))
        spark.table(t).collect().map(_.toString).sorted.toSeq
      else Seq("ABSENT"))
    }.toMap

  private def docTables(base: String): Seq[String] = Seq(
    s"${base}_band", s"${base}_band_del", s"${base}_bm25",
    s"${base}_bm25_del", s"${base}_bm25_docs", s"${base}_hashes")

  private def docArtifacts(base: String): Seq[String] =
    docTables(base) ++
      Seq(s"${base}_ledger", s"${base}_ups_ledger",
        s"${base}_dels_ledger", s"${base}_mf_snap",
        s"${base}_band_mf_snap", s"${base}_bm25_mf_snap") ++
      TextOps.SnapshotCopySiblings.flatMap(c =>
        Seq(s"${base}_band$c", s"${base}_bm25$c").map(_ + "_bak_mfsnap"))

  test("documents: manifest snapshot -> ingest/upsert/delete past it " +
      "-> restore prunes back; re-invoking the streams converges to " +
      "the never-crashed state") {
    val base = s"ss_doc_p$pid"
    val members = docTables(base)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ssdoc").toString
    val upsDir = java.nio.file.Files
      .createTempDirectory("graft_ssdocu").toString
    val delDir = java.nio.file.Files
      .createTempDirectory("graft_ssdocd").toString
    drop(docArtifacts(base): _*)
    rmCk(base, s"${base}_ups", s"${base}_dels")
    try {
      val sp = spark
      import sp.implicits._
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
      val written = streaming.StreamingOps.snapshot(spark,
        streaming.IndexGroup.documents(base))
      assert(written.exists(_.startsWith(s"manifest ${base}_mf_snap")),
        written.toString)
      // the O(metadata) claim, structurally: NO copy of any payload
      // member exists — BM25's `_docs` is manifested with the postings
      assert(!spark.catalog.tableExists(s"${base}_bm25_bak_mfsnap") &&
        !spark.catalog.tableExists(s"${base}_band_bak_mfsnap") &&
        !spark.catalog.tableExists(s"${base}_bm25_docs_bak_mfsnap"))
      assert(TextOps.readManifest(spark, s"${base}_bm25_mf_snap")
        .contains(s"${base}_bm25_docs"))

      // post-snapshot life on every stream
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
      assert(full !== snap)

      // group-tag AS-OF (r17): the family-level as-of probes serve
      // against the GROUP snapshot's per-family manifests — the whole
      // document retrieval surface answers at the tag with no restore
      val qt = Seq((1, "merge"), (1, "spark")).toDF("q_id", "token")
      def bmScores(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => ((r.getInt(0), r.getLong(1)),
          r.getDouble(2))).toMap
      val bmAsOf = bmScores(TextOps.scoreBm25AsOf(spark,
        s"${base}_bm25", "snap", qt))
      assert(bmAsOf.nonEmpty)
      // probe a corpus doc that is NOT the upsert-rewritten anchor,
      // copied into a new id space — the exact-copy collision gate
      val probeId = anchor + 3
      val probeDocs = docs.filter(col("doc_id") === probeId)
        .select((col("doc_id") + 9000L).as("doc_id"), col("text"))
      def ndPairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => ((r.getLong(0), r.getLong(1)),
          r.getDouble(2))).toMap
      val ndAsOf = ndPairs(TextOps.nearDupsAsOf(spark,
        s"${base}_band", "snap", probeDocs))
      assert(ndAsOf.contains((probeId + 9000L, probeId)),
        ndAsOf.toString)

      val did = streaming.StreamingOps.restoreSnapshot(spark,
        streaming.IndexGroup.documents(base))
      assert(did.exists(_.startsWith("pruned ")), did.toString)
      assert(state(members) === snap,
        "manifest restore did not return the member snapshot")
      // ...and the as-of answers equal what the restored group serves
      val (rp, rs) = TextOps.liveBm25(spark, s"${base}_bm25", "")
      assert(bmScores(TextOps.bm25ScoreIncr(qt, rp, rs)) === bmAsOf,
        "group-tag bm25 as-of diverged from the restored group")
      assert(ndPairs(TextOps.nearDupsAgainstIndex(probeDocs,
        TextOps.liveBandIndex(spark, s"${base}_band"))) === ndAsOf,
        "group-tag near-dup as-of diverged from the restored group")

      streaming.StreamingOps.streamingDocumentIngest(spark, dir, base)
      streaming.StreamingOps.streamingUpserts(spark, upsDir,
        streaming.IndexGroup.documents(base))
      streaming.StreamingOps.streamingDeletes(spark, delDir,
        streaming.IndexGroup.documents(base))
      assert(state(members) === full,
        "restore + replay diverged from the never-crashed state")
      assert(TextOps.bm25Family(s"${base}_bm25").fsck(spark).isEmpty)
    } finally {
      drop(docArtifacts(base): _*)
      rmCk(base, s"${base}_ups", s"${base}_dels")
    }
  }

  test("a member compaction after the snapshot refuses GLOBALLY: no " +
      "member pruned, no checkpoint touched, copy-based pair named") {
    val base = s"ss_ref_p$pid"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ssref").toString
    drop(docArtifacts(base): _*)
    rmCk(base, s"${base}_ups", s"${base}_dels")
    try {
      val sp = spark
      import sp.implicits._
      docs.filter(col("doc_id") < 15)
        .write.mode("append").parquet(s"$dir/documents.parquet")
      streaming.StreamingOps.streamingDocumentIngest(spark, dir, base)
      streaming.StreamingOps.snapshot(spark,
        streaming.IndexGroup.documents(base))
      assert(streaming.StreamingOps.checkSnapshot(spark,
        streaming.IndexGroup.documents(base))
        .isEmpty, "a fresh stream snapshot must check clean")
      // post-snapshot: more corpus AND a compaction of ONE member —
      // the group restore must refuse as a unit even though the band
      // member alone would have pruned fine
      docs.filter(col("doc_id") >= 15 && col("doc_id") < 25)
        .write.mode("append").parquet(s"$dir/documents.parquet")
      streaming.StreamingOps.streamingDocumentIngest(spark, dir, base)
      TextOps.compactIndex(spark, s"${base}_bm25",
        TextOps.FoldGuard.Orphan)
      val before = state(docTables(base) :+ s"${base}_ledger")
      val ckFiles = TextOps.listFilesUnder(spark,
        new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"),
          base.toLowerCase + "_ck")).toSet
      // the cadence check names the problem BEFORE recovery day...
      val chk = streaming.StreamingOps.checkSnapshot(spark,
        streaming.IndexGroup.documents(base))
      assert(chk.exists(_.contains("missing")), chk.toString)
      // ...and the restore refuses on the same evidence
      val e = intercept[IllegalArgumentException] {
        streaming.StreamingOps.restoreSnapshot(spark,
          streaming.IndexGroup.documents(base))
      }
      assert(e.getMessage.contains("history was rewritten") &&
        e.getMessage.contains("copy-based"), e.getMessage)
      assert(state(docTables(base) :+ s"${base}_ledger") === before,
        "a refused group restore mutated a member")
      assert(TextOps.listFilesUnder(spark,
        new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"),
          base.toLowerCase + "_ck")).toSet === ckFiles,
        "a refused group restore touched a checkpoint")
      // no snapshot at all refuses too
      intercept[IllegalArgumentException] {
        streaming.StreamingOps.restoreSnapshot(spark,
          streaming.IndexGroup.documents(s"${base}_nothere"))
      }
    } finally {
      drop(docArtifacts(base): _*)
      rmCk(base, s"${base}_ups", s"${base}_dels")
    }
  }

  test("an ANCHORED member compaction after the snapshot keeps the " +
      "group restorable: check clean, restore converges from the " +
      "fold anchor") {
    val base = s"ss_anc_p$pid"
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ssanc").toString
    drop(docArtifacts(base): _*)
    rmCk(base, s"${base}_ups", s"${base}_dels")
    val g = streaming.IndexGroup.documents(base)
    try {
      docs.filter(col("doc_id") < 15)
        .write.mode("append").parquet(s"$dir/documents.parquet")
      streaming.StreamingOps.streamingDocumentIngest(spark, dir, base)
      val snap = state(docTables(base))
      streaming.StreamingOps.snapshot(spark, g)
      docs.filter(col("doc_id") >= 15 && col("doc_id") < 25)
        .write.mode("append").parquet(s"$dir/documents.parquet")
      streaming.StreamingOps.streamingDocumentIngest(spark, dir, base)
      // the fold the group's own per-batch maintenance runs: the
      // pinned bm25 files are copied into the tag's anchor first
      TextOps.compactIndex(spark, s"${base}_bm25", TextOps.FoldGuard.Anchor)
      assert(streaming.StreamingOps.checkSnapshot(spark, g) === Nil)
      val did = streaming.StreamingOps.restoreSnapshot(spark, g)
      assert(did.exists(_.contains("fold anchor")), did.toString)
      assert(state(Seq(s"${base}_bm25")) ===
        snap.filter(_._1 == s"${base}_bm25"),
        "the anchored restore did not return the snapshot postings")
    } finally {
      streaming.StreamingOps.dropSnapshot(spark, g)
      drop(docArtifacts(base): _*)
      rmCk(base, s"${base}_ups", s"${base}_dels")
    }
  }

  test("vectors: manifest snapshot across all five stream-fed " +
      "families; restore + replay converges to the never-crashed " +
      "state") {
    val base = s"ss_vec_p$pid"
    val members = Seq(s"${base}_ann", s"${base}_ann_vec",
      s"${base}_ann_cfg", s"${base}_ann_del", s"${base}_bq",
      s"${base}_bq_cfg", s"${base}_bq_del", s"${base}_sq",
      s"${base}_sq_cfg", s"${base}_sq_del", s"${base}_pq",
      s"${base}_pq_cb", s"${base}_pq_del", s"${base}_ivf",
      s"${base}_ivf_cent", s"${base}_ivf_del")
    val all = members ++
      Seq(s"${base}_ledger", s"${base}_vups_ledger",
        s"${base}_vdels_ledger", s"${base}_mf_snap") ++
      Seq("_ann", "_bq", "_sq", "_pq", "_ivf").map(f =>
        s"${base}${f}_mf_snap") ++
      members.flatMap(m => TextOps.SnapshotCopySiblings.map(c =>
        s"$m${c}_bak_mfsnap"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ssvec").toString
    drop(all.distinct: _*)
    rmCk(base, s"${base}_vups", s"${base}_vdels")
    try {
      val sp = spark
      import sp.implicits._
      val emb = Tables(spark, sf, "embeddings")
      graft.operators.PqIndex.trainCodebook(emb, s"${base}_pq")
      graft.operators.IvfIndex.write(emb.filter(col("vec_id") < 30),
        s"${base}_ivf")
      spark.sql(s"DROP TABLE ${base}_ivf")
      emb.filter(col("vec_id") < 30).select("vec_id", "embedding")
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
      streaming.StreamingOps.streamingAllIndexIngest(spark, dir, base)
      val snap = state(members)
      streaming.StreamingOps.snapshot(spark, streaming.IndexGroup.vectors(base))
      emb.filter(col("vec_id") >= 30 && col("vec_id") < 50)
        .select("vec_id", "embedding")
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
      streaming.StreamingOps.streamingAllIndexIngest(spark, dir, base)
      val full = state(members)
      assert(full !== snap)
      // group-tag AS-OF (r17): every stream-fed vector family serves
      // scoreAsOf against the GROUP snapshot's per-family manifests
      val queries = emb.filter(col("vec_id").isin(1L, 2L))
        .select((col("vec_id") + 9000L).as("q_id"), col("embedding"))
      def annScores(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => ((r.getLong(0), r.getLong(1)),
          r.getDouble(2))).toMap
      def sqScores(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => ((r.getLong(0), r.getLong(1)),
          r.getDouble(2))).toMap
      val annAsOf = annScores(graft.operators.AnnIndex.scoreAsOf(
        queries, spark, s"${base}_ann", "snap"))
      val sqAsOf = sqScores(graft.operators.SqIndex.scoreAsOf(
        queries, spark, s"${base}_sq", "snap", k = 5))
      assert(annAsOf.nonEmpty && sqAsOf.nonEmpty)
      // post-snapshot members (vec_id >= 30) are invisible at the tag
      assert(!annAsOf.keySet.exists(_._2 >= 30L) &&
        !sqAsOf.keySet.exists(_._2 >= 30L))
      streaming.StreamingOps.restoreSnapshot(spark,
        streaming.IndexGroup.vectors(base))
      assert(state(members) === snap,
        "manifest restore did not return the vector snapshot")
      // ...and the as-of answers equal what the restored group serves
      assert(annScores(graft.operators.AnnIndex.scoreExternal(
        queries, spark, s"${base}_ann")) === annAsOf,
        "group-tag ANN as-of diverged from the restored group")
      assert(sqScores(graft.operators.SqIndex.scoreExternal(
        queries, spark, s"${base}_sq", k = 5)) === sqAsOf,
        "group-tag SQ8 as-of diverged from the restored group")
      // replay: the restored checkpoint replays exactly the second
      // file — no duplicate appends (the manifest claim for vectors,
      // whose appends have no content-hash dedup)
      streaming.StreamingOps.streamingAllIndexIngest(spark, dir, base)
      assert(state(members) === full,
        "restore + replay diverged from the never-crashed state")
    } finally {
      drop(all.distinct: _*)
      rmCk(base, s"${base}_vups", s"${base}_vdels")
    }
  }
}
