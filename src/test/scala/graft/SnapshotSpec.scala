package graft

import graft.operators.{AnnIndex, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MANIFEST SNAPSHOT (r15) — the O(metadata) backup for
  * append-dominated windows. backupIndex/restoreIndex copy O(index)
  * bytes per call; at 100 TB that's a rebuild per backup. Between
  * maintenance folds the payload members only gain part-files, so
  * snapshotIndex records the FILE MANIFEST (one listing per member)
  * plus O(1) copies of the tiny rewritten-in-place metadata members
  * (stats/config/trained artifacts), and restoreSnapshot converges by
  * pruning post-snapshot files. The honesty contract: the moment a
  * compaction/vacuum/rebuild rewrites history, pruning can no longer
  * reach the snapshot — restore must refuse LOUDLY with evidence,
  * before mutating anything, and point at the copy-based path.
  */
class SnapshotSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def famAll(t: String): Seq[String] =
    (t +: TextOps.BackupSiblings.map(t + _)) ++
      Seq(s"${t}_mf_snap") ++
      TextOps.SnapshotCopySiblings.map(t + _ + "_bak_mfsnap")

  test("bm25: snapshot -> append/upsert/delete -> restore prunes back " +
      "to the exact snapshot (scores, stats, fsck) with zero member " +
      "copies of the payload tables") {
    val t = s"snap_bm25_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
      TextOps.appendBm25Postings(
        docs(1L -> "spark join window", 2L -> "hash scan merge",
          3L -> "window fast data"), t)
      val qt = Seq((1, "window"), (1, "spark"), (2, "data"),
        (2, "hash")).toDF("q_id", "token")
      def scores(): Map[(Int, Long), Double] = {
        val (p, st) = TextOps.liveBm25(spark, t, "")
        TextOps.bm25ScoreIncr(qt, p, st).collect()
          .map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2))).toMap
      }
      val snap = scores()
      val written = TextOps.snapshotIndex(spark, t)
      assert(written.exists(_.startsWith(s"manifest ${t}_mf_snap")),
        written.toString)
      // the payload members must NOT have been copied — that's the
      // whole point; BM25's `_docs` member is manifested with them
      assert(!spark.catalog.tableExists(s"${t}_bak_mfsnap") &&
        !spark.catalog.tableExists(s"${t}_bak_snap") &&
        !spark.catalog.tableExists(s"${t}_docs_bak_mfsnap"))
      assert(TextOps.readManifest(spark, s"${t}_mf_snap")
        .contains(s"${t}_docs"))

      // an append-dominated window: append, upsert, terminal delete —
      // all of it part-file growth on the manifest members
      TextOps.appendBm25Postings(docs(9L -> "brand new doc"), t)
      TextOps.upsertBm25Docs(spark, t,
        docs(1L -> "totally different content now"))
      TextOps.deleteBm25Docs(spark, t,
        Seq(2L).toDF("doc_id"))
      assert(scores() !== snap)

      val did = TextOps.restoreSnapshot(spark, t)
      assert(did.exists(_.startsWith(s"pruned $t:")), did.toString)
      assert(did.contains(s"dropped ${t}_del (absent at snapshot)"),
        did.toString)
      assert(scores() === snap, "snapshot restore missed the state")
      assert(TextOps.bm25Family(t).fsck(spark).isEmpty,
        "restored family fails its own audit")
      // idempotent: nothing left to prune, same converged state
      val again = TextOps.restoreSnapshot(spark, t)
      assert(again.exists(_ == s"pruned $t: 0 post-snapshot files"),
        again.toString)
      assert(scores() === snap)
    } finally drop(all: _*)
  }

  test("ann: vector family manifest round-trip with probe parity") {
    val t = s"snap_ann_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val dim = 16
      val emb = (0 until 30).map { i =>
        (i.toLong, (0 until dim).map(j =>
          (((i * 7 + j * 3) % 13) + 1).toDouble))
      }.toDF("vec_id", "embedding")
      AnnIndex.write(emb, t, dim = dim)
      def probe(): Map[(Long, Long), Double] =
        AnnIndex.topK(spark, t, _ < 5, k = 3)
          .collect().map(r => ((r.getLong(0), r.getLong(1)),
            r.getDouble(2))).toMap
      val snap = probe()
      TextOps.snapshotIndex(spark, t)
      AnnIndex.append((30 until 40).map { i =>
        (i.toLong, (0 until dim).map(j =>
          (((i * 5 + j * 7) % 11) + 1).toDouble))
      }.toDF("vec_id", "embedding"), t, dim = dim)
      // 19 sits in the snapshot's top-3 (query 4), so deleting it
      // visibly changes the probe the restore must bring back
      AnnIndex.family(t).delete(spark, Seq(19L).toDF("vec_id"))
      assert(probe() !== snap)
      TextOps.restoreSnapshot(spark, t)
      assert(probe() === snap, "restored ANN family probes differently")
      assert(AnnIndex.family(t).fsck(spark).isEmpty)
    } finally drop(all: _*)
  }

  test("time travel: six tagged snapshots through an append/upsert/" +
      "delete storm restore BACKWARDS, each bit-exact — earlier tags " +
      "stay restorable because pruning to tag k keeps every file of " +
      "tags < k") {
    val t = s"snap_tt_p$pid"
    val tags = (1 to 6).map(r => s"t$r")
    val all = famAll(t) ++ tags.flatMap(tg =>
      s"${t}_mf_$tg" +: TextOps.SnapshotCopySiblings.map(c =>
        s"$t${c}_bak_mf$tg"))
    drop(all.distinct: _*)
    try {
      val sp = spark
      import sp.implicits._
      def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
      val qt = Seq((1, "window"), (1, "alpha"), (2, "merge"),
        (2, "round4")).toDF("q_id", "token")
      def scores(): Map[(Int, Long), Double] = {
        val (p, st) = TextOps.liveBm25(spark, t, "")
        TextOps.bm25ScoreIncr(qt, p, st).collect()
          .map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2))).toMap
      }
      // the storm: a rotating append/upsert/delete per round — all
      // part-file growth (no folds), one snapshot after each
      val at = scala.collection.mutable.Map.empty[String,
        Map[(Int, Long), Double]]
      (1 to 6).foreach { r =>
        r % 3 match {
          case 1 => TextOps.appendBm25Postings(
            docs((r * 10).toLong -> s"alpha window round$r merge"), t)
          case 2 => TextOps.upsertBm25Docs(spark, t,
            docs(((r - 1) * 10).toLong ->
              s"rewritten in round$r alpha"))
          case 0 => TextOps.deleteBm25Docs(spark, t,
            Seq(((r - 2) * 10).toLong).toDF("doc_id"))
        }
        TextOps.snapshotIndex(spark, t, tag = s"t$r")
        at(s"t$r") = scores()
      }
      assert(TextOps.listSnapshots(spark, t).map(_._1)
        === tags.reverse, "listSnapshots must be newest-first")
      // walk BACKWARDS through time: each restore prunes further,
      // and every earlier tag's files survive it (subset property)
      tags.reverse.foreach { tg =>
        assert(TextOps.checkSnapshot(spark, t, tg).isEmpty,
          s"$tg not restorable before its turn")
        TextOps.restoreSnapshot(spark, t, tg)
        assert(scores() === at(tg), s"time travel to $tg diverged")
        assert(TextOps.bm25Family(t).fsck(spark).isEmpty,
          s"$tg restored to an unhealthy family")
      }
    } finally drop(all.distinct: _*)
  }

  test("checkSnapshot: restorable now, flips after a compaction, " +
      "warns on a live member the snapshot would drop — all without " +
      "mutating anything") {
    val t = s"snap_check_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      assert(TextOps.checkSnapshot(spark, t) ===
        Seq(s"no manifest ${t}_mf_snap"))
      TextOps.appendBm25Postings(
        Seq(1L -> "spark join window").toDF("doc_id", "text"), t)
      TextOps.snapshotIndex(spark, t)
      assert(TextOps.checkSnapshot(spark, t).isEmpty,
        "a fresh snapshot must check clean")
      // appends keep it restorable...
      TextOps.appendBm25Postings(
        Seq(2L -> "hash scan merge").toDF("doc_id", "text"), t)
      assert(TextOps.checkSnapshot(spark, t).isEmpty)
      // ...a fold does not — and the check says so WITHOUT mutating
      // (Orphan: the fold-time guard is FoldGuardSpec's subject; this
      // test is about the read-only check AFTER an orphaning fold)
      TextOps.compactIndex(spark, t, TextOps.FoldGuard.Orphan)
      val v = TextOps.checkSnapshot(spark, t)
      assert(v.exists(_.contains("missing")), v.toString)
      // the stale check is read-only: restore still refuses on its own
      intercept[IllegalArgumentException] {
        TextOps.restoreSnapshot(spark, t)
      }
    } finally drop(all: _*)
  }

  test("listSnapshots is newest-first, pruneSnapshots retention " +
      "drops manifest + meta copies, listBackups lists copy tags") {
    val t = s"snap_list_p$pid"
    val all = famAll(t) ++ Seq(s"${t}_mf_a", s"${t}_mf_b",
      s"${t}_bak_bak", s"${t}_docs_bak_bak")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        Seq(1L -> "spark join window").toDF("doc_id", "text"), t)
      TextOps.snapshotIndex(spark, t, tag = "a")
      Thread.sleep(50) // mtime separates the tags
      TextOps.appendBm25Postings(
        Seq(2L -> "hash scan merge").toDF("doc_id", "text"), t)
      TextOps.snapshotIndex(spark, t, tag = "b")
      assert(TextOps.listSnapshots(spark, t).map(_._1) === Seq("b", "a"))
      TextOps.backupIndex(spark, t)
      assert(TextOps.listBackups(spark, t) === Seq("bak"),
        "sibling meta copies must not masquerade as backup tags")
      val pruned = TextOps.pruneSnapshots(spark, t,
        TextOps.Retention.KeepNewest(1))
      assert(pruned === Seq("dropped snapshot a"), pruned.toString)
      assert(!spark.catalog.tableExists(s"${t}_mf_a"))
      // the kept snapshot still restores
      TextOps.appendBm25Postings(
        Seq(9L -> "post snapshot doc").toDF("doc_id", "text"), t)
      TextOps.restoreSnapshot(spark, t, tag = "b")
      val (p, _) = TextOps.liveBm25(spark, t, "")
      assert(p.select("doc_id").distinct().collect()
        .map(_.getLong(0)).toSet === Set(1L, 2L))
    } finally drop(all: _*)
  }

  test("a crash mid-prune converges by re-running: a half-pruned " +
      "family is still a valid restore target") {
    val t = s"snap_crash_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        Seq(1L -> "spark join window", 2L -> "hash scan merge")
          .toDF("doc_id", "text"), t)
      val snapRows = spark.table(t).collect().map(_.toString).sorted
      TextOps.snapshotIndex(spark, t)
      TextOps.appendBm25Postings(
        Seq(8L -> "first post snapshot doc").toDF("doc_id", "text"), t)
      TextOps.appendBm25Postings(
        Seq(9L -> "second post snapshot doc").toDF("doc_id", "text"), t)
      // simulate the crash: a restore that died after deleting SOME
      // extras — by hand-deleting one post-snapshot file (an extra,
      // not a manifest member, so validation is unaffected)
      val mf = TextOps.readManifest(spark, s"${t}_mf_snap")
      val keep = mf(t).map(_._1).toSet
      val loc = TextOps.tableLocation(spark, t)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val extras = TextOps.listFilesUnder(spark, loc).map(_._1)
        .filterNot(keep)
      assert(extras.size >= 2, s"fixture: want >=2 extras, $extras")
      fs.delete(new org.apache.hadoop.fs.Path(loc, extras.head), false)
      spark.catalog.refreshTable(t)
      // the half-pruned family restores by just re-running
      TextOps.restoreSnapshot(spark, t)
      assert(spark.table(t).collect().map(_.toString).sorted.toSeq
        === snapRows.toSeq, "re-run after mid-prune crash diverged")
      assert(TextOps.bm25Family(t).fsck(spark).isEmpty)
    } finally drop(all: _*)
  }

  test("a compaction between snapshot and restore refuses LOUDLY " +
      "before mutating anything, naming the rewritten file and the " +
      "copy-based fallback") {
    val t = s"snap_refuse_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        Seq(1L -> "spark join window", 2L -> "hash scan merge")
          .toDF("doc_id", "text"), t)
      TextOps.snapshotIndex(spark, t)
      // history rewrite: compact the postings member (same rows, new
      // files) — pruning can no longer reach the snapshot
      TextOps.appendBm25Postings(
        Seq(9L -> "brand new doc").toDF("doc_id", "text"), t)
      val rows = spark.table(t).collect().map(_.toString).sorted.toSeq
      TextOps.compactIndex(spark, t, TextOps.FoldGuard.Orphan)
      val e = intercept[IllegalArgumentException] {
        TextOps.restoreSnapshot(spark, t)
      }
      assert(e.getMessage.contains("history was rewritten") &&
        e.getMessage.contains("backupIndex/restoreIndex"),
        e.getMessage)
      // refused BEFORE mutating: the live family is untouched
      assert(spark.table(t).collect().map(_.toString).sorted.toSeq
        === rows, "a refused restore mutated the live family")
      // and no manifest at all refuses too
      intercept[IllegalArgumentException] {
        TextOps.restoreSnapshot(spark, s"${t}_nothere")
      }
    } finally drop(all: _*)
  }
}
