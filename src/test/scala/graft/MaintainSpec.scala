package graft

import graft.operators.{BqIndex, IvfIndex, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** maintain() — one policy entry per family (r14, VERDICT item 4):
  * a single idempotent pass composes the existing gauges (per-bucket
  * file pressure → compact; tombstone rows → vacuum; tombstone FILES
  * → the cheap list compaction; quantizer drift → refresh) and runs
  * exactly the ops whose thresholds trip — and NOTHING when healthy.
  * Also gates VERDICT item 5: the health gauge now watches the small
  * siblings (`_del` accumulates one file per delete call), and a
  * 50-delete loop followed by the policy pass leaves O(1) files.
  */
class MaintainSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()
  private def emb = Tables(spark, sf, "embeddings")

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def delFiles(t: String): Long =
    TextOps.indexFileHealth(spark, t).siblingFiles

  /** Raw file count of a managed table's location — for siblings
    * whose MAIN table doesn't exist yet (the gauge needs it). */
  private def filesIn(table: String): Long = {
    val p = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).count(st => st.isFile &&
      !st.getPath.getName.startsWith("_") &&
      !st.getPath.getName.startsWith(".")).toLong
  }

  test("healthy family: the pass runs nothing and changes nothing") {
    val t = s"mnt_healthy_p$pid"
    drop(t, s"${t}_cfg", s"${t}_del")
    try {
      BqIndex.write(emb, t)
      val before = TextOps.indexFileHealth(spark, t)
      assert(BqIndex.family(t).maintain(spark) === Nil)
      assert(TextOps.indexFileHealth(spark, t) === before)
    } finally drop(t, s"${t}_cfg", s"${t}_del")
  }

  test("append pressure trips exactly member compaction; idempotent") {
    val t = s"mnt_compact_p$pid"
    drop(t, s"${t}_cfg", s"${t}_del", s"${t}_compact", s"${t}_old")
    try {
      (0 to 5).foreach { m =>
        BqIndex.append(emb.filter(pmod(col("vec_id"), lit(6)) === m), t)
      }
      assert(TextOps.indexFileHealth(spark, t).needsCompaction())
      val ops = BqIndex.family(t).maintain(spark)
      assert(ops === Seq(s"compact:$t"), ops.toString)
      val h = TextOps.indexFileHealth(spark, t)
      assert(h.files === h.buckets.toLong)
      // second pass: healthy again, nothing runs
      assert(BqIndex.family(t).maintain(spark) === Nil)
    } finally drop(t, s"${t}_cfg", s"${t}_del", s"${t}_compact",
      s"${t}_old")
  }

  test("50-delete loop: sibling gauge trips list compaction, then row " +
      "threshold trips vacuum — O(1) files at the end") {
    val t = s"mnt_del_p$pid"
    val all = Seq(t, s"${t}_cfg", s"${t}_del", s"${t}_del_compact",
      s"${t}_del_old", s"${t}_compact", s"${t}_old")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      BqIndex.write(emb, t)
      // one delete CALL per id — each appends one coalesced file
      (1000L until 1050L).foreach { id =>
        BqIndex.family(t).delete(spark, Seq(id).toDF("vec_id"))
      }
      val grown = TextOps.indexFileHealth(spark, t)
      assert(grown.siblingFiles >= 50L, grown.toString)
      assert(grown.needsSiblingCompaction())
      // pass 1: the file count trips the CHEAP list compaction (row
      // count 50 sits under the vacuum threshold) — and only it
      val ops1 = BqIndex.family(t).maintain(spark,
        TextOps.MaintenancePolicy(delFilesMax = 16L, delRowsMax = 1024L))
      assert(ops1 === Seq("compact-tombstones"), ops1.toString)
      assert(delFiles(t) <= 2L, s"del files ${delFiles(t)}")
      assert(spark.table(s"${t}_del").count() === 50L)
      // pass 2: a tighter row threshold trips the full vacuum — list
      // folded into the members and dropped
      val ops2 = BqIndex.family(t).maintain(spark,
        TextOps.MaintenancePolicy(delRowsMax = 40L))
      assert(ops2 === Seq("vacuum"), ops2.toString)
      assert(!spark.catalog.tableExists(s"${t}_del"))
      val after = TextOps.indexFileHealth(spark, t)
      assert(after.siblingFiles <= 1L, after.toString) // just _cfg
      assert(after.files === after.buckets.toLong)
      // pass 3: healthy
      assert(BqIndex.family(t).maintain(spark) === Nil)
    } finally drop(all: _*)
  }

  test("IVF drift trips refresh exactly when the corpus is supplied") {
    val t = s"mnt_ivf_p$pid"
    val all = Seq(t, s"${t}_cent", s"${t}_del", s"${t}_compact",
      s"${t}_old", s"${t}_cent_compact", s"${t}_cent_old", s"${t}_swap")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val dim = 16
      def vecs(ids: Range, shift: Int): DataFrame =
        ids.map { i =>
          (i.toLong, (0 until dim).map(j =>
            (((i * 7 + j * 3 + shift * 97) % 13) + shift * 50).toDouble))
        }.toDF("vec_id", "embedding")
      val a = vecs(0 until 40, 0)
      val b = vecs(40 until 80, 1) // far-shifted: lands badly in A's cells
      IvfIndex.write(a, t, k = 4, dim = dim)
      val errFit = IvfIndex.quantizationError(spark, t)
      IvfIndex.append(b, t)
      val errDrift = IvfIndex.quantizationError(spark, t)
      assert(errDrift > errFit, s"drift gauge did not rise: " +
        s"$errFit -> $errDrift")
      val bound = (errFit + errDrift) / 2.0
      val current = a.unionByName(b)
      // without the corpus: the debt is REPORTED, never silently run
      val due = IvfIndex.family(t).maintain(spark,
        TextOps.MaintenancePolicy(driftMax = bound))
      assert(due === Seq("refresh-due"), due.toString)
      assert(IvfIndex.quantizationError(spark, t) === errDrift)
      // with the corpus: refresh runs, the gauge drops under the bound
      val ops = IvfIndex.family(t).maintain(spark,
        TextOps.MaintenancePolicy(driftMax = bound),
        refreshWith = Some(current))
      assert(ops === Seq("refresh"), ops.toString)
      val errAfter = IvfIndex.quantizationError(spark, t)
      assert(errAfter <= bound, s"refresh left drift $errAfter > $bound")
      // healthy again
      assert(IvfIndex.family(t).maintain(spark,
        TextOps.MaintenancePolicy(driftMax = bound),
        refreshWith = Some(current)) === Nil)
    } finally drop(all: _*)
  }

  test("ingest-hook form never gauges drift: maintainIndex without a " +
      "drift fn reports nothing even under a hair-trigger driftMax") {
    // the runbook's drift-leg scheduling contract (r15, VERDICT item
    // 8): the per-batch hooks on the streaming ingest loops call the
    // BASE maintainIndex with NO drift gauge — so a self-maintaining
    // ingest can never launch the O(index) reconstruction, let alone
    // refresh a quantizer without the training corpus in hand. A
    // driftMax any gauged pass would trip must report nothing here.
    val t = s"mnt_nodrift_p$pid"
    val all = Seq(t, s"${t}_cent", s"${t}_del")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val dim = 16
      val a = (0 until 40).map { i =>
        (i.toLong, (0 until dim).map(j =>
          (((i * 7 + j * 3) % 13) + 1).toDouble))
      }.toDF("vec_id", "embedding")
      IvfIndex.write(a, t, k = 4, dim = dim)
      assert(IvfIndex.quantizationError(spark, t) > 1e-9,
        "corpus quantizes exactly — the hair trigger is vacuous")
      val before = spark.table(s"${t}_cent").collect().toSet
      // the exact call streamingAllIndexIngest's afterBatch hook makes
      val ops = TextOps.maintainIndex(spark, Seq(t), s"${t}_del",
        "vec_id", TextOps.MaintenancePolicy(driftMax = 1e-9))
      assert(!ops.exists(_.contains("refresh")), ops.toString)
      assert(spark.table(s"${t}_cent").collect().toSet === before,
        "the hook-form pass touched the quantizer")
    } finally drop(all: _*)
  }

  test("ingest hook: the loop maintains its own family as gauges trip") {
    val base = s"mnt_hook_p$pid"
    val bm25T = s"${base}_bm25"
    val all = Seq(bm25T, s"${bm25T}_docs", s"${bm25T}_del",
      s"${bm25T}_del_compact", s"${bm25T}_del_old", s"${base}_band",
      s"${base}_band_del", s"${base}_hashes", s"${base}_ledger")
    drop(all: _*)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mnt_hook").toString
    try {
      val sp = spark
      import sp.implicits._
      // pre-accumulated delete files on the family the ingest owns
      // (ids outside the corpus — content-neutral file pressure)
      (5000L until 5005L).foreach { id =>
        TextOps.tombstone(spark, s"${bm25T}_del",
          Seq(id).toDF("doc_id"), "doc_id")
      }
      assert(filesIn(s"${bm25T}_del") >= 5L)
      Seq((1L, "spark join window", "en", "s0", 18L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(s"$dir/documents.parquet")
      streaming.StreamingOps.streamingDocumentIngest(spark, dir, base,
        maintain = Some(TextOps.MaintenancePolicy(delFilesMax = 2L)))
      // the hook's policy pass collapsed the list mid-ingest
      assert(delFiles(bm25T) <= 2L, s"del files ${delFiles(bm25T)}")
      assert(filesIn(s"${bm25T}_del") <= 1L)
    } finally {
      drop(all: _*)
      val ck = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"),
        base.toLowerCase + "_ck")
      val fs = ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(ck, true)
    }
  }

  test("upsert hook + pinned snapshot (r17): the unattended fold " +
      "ANCHORS instead of refusing — the stream lives AND the " +
      "snapshot keeps serving") {
    val base = s"mnt_ghook_p$pid"
    val bm25T = s"${base}_bm25"
    val all = Seq(bm25T, s"${bm25T}_docs", s"${bm25T}_del",
      s"${bm25T}_del_compact", s"${bm25T}_del_old", s"${base}_band",
      s"${base}_band_del", s"${base}_ups_ledger",
      s"${bm25T}_mf_snap") ++
      TextOps.SnapshotCopySiblings.map(sf =>
        s"$bm25T${sf}_bak_mfsnap")
    drop(all: _*)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mnt_ghook").toString
    try {
      val sp = spark
      import sp.implicits._
      // seeded family (the upsert twin's precondition), plus
      // delete-file pressure past the hook's threshold
      TextOps.appendBm25Postings(
        Seq((1L, "spark join window"), (2L, "hash scan merge"))
          .toDF("doc_id", "text"), bm25T)
      TextOps.writeBandIndex(
        Seq((1L, "spark join window", "en", "s0", 17L),
          (2L, "hash scan merge", "en", "s0", 15L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"),
        s"${base}_band")
      (5000L until 5005L).foreach { id =>
        TextOps.tombstone(spark, s"${bm25T}_del",
          Seq(id).toDF("doc_id"), "doc_id")
      }
      assert(filesIn(s"${bm25T}_del") >= 5L)
      // a live manifest snapshot pins the postings AND the
      // tombstone-list files the hook's compact-tombstones is about
      // to rewrite
      TextOps.snapshotIndex(spark, bm25T, "snap")
      val delAsOf = TextOps.readSnapshot(spark, bm25T, "snap", "_del")
        .count()
      assert(delAsOf > 0)
      Seq((1L, "spark window rewrite", "en", "s0", 20L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(dir)
      // a Refuse default would kill this batch; the hook anchors
      streaming.StreamingOps.streamingUpserts(spark, dir,
        streaming.IndexGroup.documents(base),
        maintain = Some(TextOps.MaintenancePolicy(delFilesMax = 2L)))
      assert(filesIn(s"${bm25T}_del") <= 1L,
        "hook did not fold under the pinned snapshot")
      assert(TextOps.checkSnapshot(spark, bm25T, "snap") === Nil)
      assert(TextOps.readSnapshot(spark, bm25T, "snap", "_del")
        .count() === delAsOf)
    } finally {
      TextOps.dropSnapshot(spark, bm25T, "snap")
      drop(all: _*)
      val ck = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"),
        base.toLowerCase + "_ups_ck")
      val fs = ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(ck, true)
    }
  }

  test("upsert-twin hook: the CDC upsert stream self-maintains too") {
    val base = s"mnt_uhook_p$pid"
    val bm25T = s"${base}_bm25"
    val all = Seq(bm25T, s"${bm25T}_docs", s"${bm25T}_del",
      s"${bm25T}_del_compact", s"${bm25T}_del_old", s"${base}_band",
      s"${base}_band_del", s"${base}_ups_ledger")
    drop(all: _*)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mnt_uhook").toString
    try {
      val sp = spark
      import sp.implicits._
      // seed the family, then pre-accumulate delete-file pressure the
      // arriving upsert batch's hook must collapse
      TextOps.appendBm25Postings(
        Seq((1L, "spark join window"), (2L, "hash scan merge"))
          .toDF("doc_id", "text"), bm25T)
      TextOps.writeBandIndex(
        Seq((1L, "spark join window", "en", "s0", 17L),
          (2L, "hash scan merge", "en", "s0", 15L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"),
        s"${base}_band")
      (5000L until 5005L).foreach { id =>
        TextOps.tombstone(spark, s"${bm25T}_del",
          Seq(id).toDF("doc_id"), "doc_id")
      }
      assert(filesIn(s"${bm25T}_del") >= 5L)
      Seq((1L, "spark window rewrite", "en", "s0", 20L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(dir)
      streaming.StreamingOps.streamingUpserts(spark, dir,
        streaming.IndexGroup.documents(base),
        maintain = Some(TextOps.MaintenancePolicy(delFilesMax = 2L)))
      assert(filesIn(s"${bm25T}_del") <= 1L)
    } finally {
      drop(all: _*)
      val ck = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"),
        base.toLowerCase + "_ups_ck")
      val fs = ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(ck, true)
    }
  }

  test("describe: the snapshot mirrors the gauges, due() predicts the " +
      "pass, and the family reads healthy after it") {
    val t = s"mnt_desc_p$pid"
    val all = Seq(t, s"${t}_cfg", s"${t}_del", s"${t}_del_compact",
      s"${t}_del_old", s"${t}_compact", s"${t}_old")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      BqIndex.write(emb, t)
      // healthy family: no debt anywhere, nothing due
      val h = BqIndex.family(t).describe(spark)
      assert(h.healthy() && h.due() === Nil)
      assert(h.cfg.get("dim").contains(64))
      assert(h.delRows === 0L && h.terminalDeletes === 0L &&
        h.topBarrier === 0L)
      assert(h.members.map(_._1) === Seq(t))

      // a terminal delete and an upsert show up split by kind
      BqIndex.family(t).delete(spark, Seq(3L, 4L).toDF("vec_id"))
      BqIndex.upsert(emb.filter(col("vec_id") === 7L), t)
      val d = BqIndex.family(t).describe(spark)
      assert(d.terminalDeletes === 2L)
      assert(d.delRows === 3L)
      assert(d.topBarrier === 1L)

      // trip the member file pressure: due() lists exactly the pass
      // maintain then runs, and afterwards the family reads healthy
      (0 to 5).foreach { m =>
        BqIndex.append(emb.filter(pmod(col("vec_id"), lit(6)) === m), t)
      }
      val p = TextOps.MaintenancePolicy(delFilesMax = 64L)
      val s2 = BqIndex.family(t).describe(spark)
      assert(s2.due(p) === Seq(s"compact:$t"))
      assert(BqIndex.family(t).maintain(spark, p) === s2.due(p))
      assert(BqIndex.family(t).describe(spark).healthy(p))

      // the BM25 describe carries the stats derived from `_docs`
      val bt = s"mnt_desc_bm25_p$pid"
      drop(bt, s"${bt}_docs", s"${bt}_del")
      try {
        TextOps.appendBm25Postings(
          Seq((1L, "spark window join"), (2L, "hash scan"))
            .toDF("doc_id", "text"), bt)
        val b = TextOps.bm25Family(bt).describe(spark)
        assert(b.stats.get("n_docs").contains(2L))
        assert(b.stats.get("sum_dl").contains(5L))
      } finally drop(bt, s"${bt}_docs", s"${bt}_del")
    } finally drop(all: _*)
  }
}
