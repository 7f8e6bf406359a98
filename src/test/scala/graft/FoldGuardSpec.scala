package graft

import graft.operators.TextOps
import graft.operators.TextOps.FoldGuard
import org.scalatest.funsuite.AnyFunSuite

/** FOLD-AWARE SNAPSHOTS (r17, VERDICT item 1): a manifest snapshot
  * pins live FILE NAMES, and a compact/vacuum/rebuild rewrites them —
  * before r17 the refusal only fired at readSnapshot/restoreSnapshot
  * time, AFTER the anchor window was gone. Now every fold checks the
  * live `_mf_*` manifests FIRST and either refuses naming the pinned
  * tags (default), proceeds knowingly (Orphan — checkSnapshot names
  * exactly the retired tags), or copies the pinned files into a
  * per-tag fold anchor first (Anchor — the snapshot keeps serving
  * through readSnapshot/checkSnapshot/restoreSnapshot). due()/
  * describe() surface the conflict on the cadence check.
  */
class FoldGuardSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def famAll(t: String): Seq[String] =
    (t +: TextOps.BackupSiblings.map(t + _)) ++
      Seq(s"${t}_mf_s1", s"${t}_mf_s2", s"${t}_compact", s"${t}_old") ++
      TextOps.SnapshotCopySiblings.flatMap(sf =>
        Seq(s"$t${sf}_bak_mfs1", s"$t${sf}_bak_mfs2"))

  private def mkFam(t: String, n: Long = 12L): Unit = {
    val sp = spark
    import sp.implicits._
    TextOps.appendBm25Postings(
      (1L to n).map(i => i -> s"spark shuffle join token$i data")
        .toDF("doc_id", "text"), t)
  }

  private def append(t: String, ids: Seq[Long]): Unit = {
    val sp = spark
    import sp.implicits._
    TextOps.appendBm25Postings(
      ids.map(i => i -> s"spark shuffle join token$i data")
        .toDF("doc_id", "text"), t)
  }

  private def postings(df: org.apache.spark.sql.DataFrame)
      : Seq[(Long, String)] =
    df.selectExpr("doc_id", "token").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  test("a fold over a pinned snapshot REFUSES by default, naming " +
      "the tags; due() surfaces the conflict first") {
    val t = s"fg_refuse_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      mkFam(t)
      TextOps.snapshotIndex(spark, t, "s1")
      append(t, Seq(13L, 14L))
      val e = intercept[IllegalStateException] {
        TextOps.compactIndex(spark, t)
      }
      assert(e.getMessage.contains(s"$t/s1"), e.getMessage)
      assert(e.getMessage.contains("orphan"), e.getMessage)
      // the snapshot still serves — the fold never started
      assert(TextOps.checkSnapshot(spark, t, "s1") === Nil)
      // the cadence check names the conflict without running anything:
      // force compaction due via a zero threshold
      val st = TextOps.bm25Family(t).describe(spark)
      assert(st.pinnedSnapshots === Seq(s"$t/s1"), st.pinnedSnapshots)
      val due = st.due(TextOps.MaintenancePolicy(filesPerBucketMax = 0.0))
      assert(due.exists(_.startsWith("fold-orphans-snapshots:")),
        due.toString)
      assert(due.exists(_.contains(s"$t/s1")), due.toString)
      // maintain under the same policy refuses like the direct fold
      val e2 = intercept[IllegalStateException] {
        TextOps.bm25Family(t).maintain(spark,
          TextOps.MaintenancePolicy(filesPerBucketMax = 0.0))
      }
      assert(e2.getMessage.contains(s"$t/s1"), e2.getMessage)
    } finally drop(all: _*)
  }

  test("FoldGuard.Orphan proceeds; checkSnapshot then reports " +
      "exactly the retired tags") {
    val t = s"fg_orphan_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      mkFam(t)
      TextOps.snapshotIndex(spark, t, "s1")
      append(t, Seq(13L, 14L))
      TextOps.compactIndex(spark, t, FoldGuard.Orphan)
      // s1 is honestly unreadable now...
      val v = TextOps.checkSnapshot(spark, t, "s1")
      assert(v.exists(_.contains("not anchored")), v.toString)
      intercept[IllegalArgumentException] {
        TextOps.readSnapshot(spark, t, "s1")
      }
      // ...and a snapshot taken AFTER the fold is clean — the damage
      // is exactly the pre-fold tag
      TextOps.snapshotIndex(spark, t, "s2")
      assert(TextOps.checkSnapshot(spark, t, "s2") === Nil)
    } finally drop(all: _*)
  }

  test("FoldGuard.Anchor keeps the snapshot serving across compact " +
      "AND vacuum (tombstone-list drop included): readSnapshot, " +
      "checkSnapshot and restoreSnapshot all still converge") {
    val t = s"fg_anchor_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      mkFam(t)
      // a tombstone so the snapshot manifests a `_del` member too
      TextOps.deleteBm25Docs(spark, t,
        Seq(3L).toDF("doc_id"))
      TextOps.snapshotIndex(spark, t, "s1")
      val want = postings(TextOps.readSnapshot(spark, t, "s1"))
      val wantDel = TextOps.readSnapshot(spark, t, "s1", "_del").count()
      assert(wantDel > 0)
      append(t, Seq(21L, 22L))
      // compact rewrites the postings files; vacuum folds the
      // tombstones into the members and clears the `_del` list — by
      // TRUNCATE, not drop, while this snapshot records it as a
      // member (a drop would break the tag on a missing member)
      TextOps.compactIndex(spark, t, FoldGuard.Anchor)
      TextOps.vacuumIndex(spark, s"${t}_del",
        Seq(t, s"${t}_docs"), "doc_id",
        FoldGuard.Anchor)
      assert(spark.catalog.tableExists(s"${t}_del"),
        "pinned tombstone list must truncate, not drop")
      assert(spark.table(s"${t}_del").count() === 0L)
      // the snapshot still serves — postings from the anchor, the
      // dropped tombstone list from its anchored files
      assert(TextOps.checkSnapshot(spark, t, "s1") === Nil)
      assert(postings(TextOps.readSnapshot(spark, t, "s1")) === want)
      assert(TextOps.readSnapshot(spark, t, "s1", "_del").count() ===
        wantDel)
      // and the restore converges bit-exact: anchored postings and
      // tombstone entries come back under their manifested names
      val out = TextOps.restoreSnapshot(spark, t, "s1")
      assert(out.exists(_.contains("fold anchor")), out.toString)
      assert(postings(spark.table(t)) === want)
      assert(spark.table(s"${t}_del").count() === wantDel)
      // the anchor byte debt is observable (the unattended-Anchor
      // retention signal)...
      val anchors = TextOps.listAnchors(spark, t)
      assert(anchors.exists { case (tag, m, b) =>
        tag == "s1" && m == t && b > 0 }, anchors.toString)
      // ...and dropping the snapshot sweeps its anchors
      TextOps.dropSnapshot(spark, t, "s1")
      val a = TextOps.anchorDir(spark, t, "s1")
      val fs = a.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(a))
      assert(TextOps.listAnchors(spark, t).isEmpty)
    } finally drop(all: _*)
  }

  test("a present-but-EMPTY tombstone list survives a vacuum by " +
      "truncation (nothing to anchor, nothing lost) — and an Orphan " +
      "vacuum of an anchored list still restores via recreate") {
    val t = s"fg_empty_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      mkFam(t, 6L)
      // an EMPTY list with ZERO data files (an empty DataFrame write
      // still drops a physical part-file; DDL does not) — the true
      // null-path-sentinel case
      spark.sql(s"CREATE TABLE ${t}_del (doc_id BIGINT, gen BIGINT) " +
        "USING PARQUET")
      TextOps.snapshotIndex(spark, t, "s1")
      // the sentinel row records the member present-but-empty
      assert(TextOps.checkSnapshot(spark, t, "s1") === Nil)
      // a default-guard vacuum may proceed (no FILES are pinned) but
      // must not break the tag: the list truncates instead of drops
      TextOps.vacuumIndex(spark, s"${t}_del",
        Seq(t, s"${t}_docs"), "doc_id")
      assert(spark.catalog.tableExists(s"${t}_del"))
      assert(TextOps.checkSnapshot(spark, t, "s1") === Nil)
      assert(TextOps.restoreSnapshot(spark, t, "s1")
        .nonEmpty)
      assert(spark.table(s"${t}_del").count() === 0L)
      // Orphan path: anchor the list's files first (a nonempty list
      // this time, via an anchored compact-tombstones), then an
      // Orphan vacuum DROPS the table — restore recreates the member
      // from the anchor. Member list kept empty so the drop path is
      // isolated (an Orphan member rewrite would knowingly orphan
      // the postings pin, which is the OTHER test's subject).
      TextOps.deleteBm25Docs(spark, t,
        Seq(2L).toDF("doc_id"))
      TextOps.snapshotIndex(spark, t, "s2")
      TextOps.compactTombstones(spark, s"${t}_del",
        FoldGuard.Anchor)
      TextOps.vacuumIndex(spark, s"${t}_del", Seq.empty, "doc_id",
        FoldGuard.Orphan)
      assert(!spark.catalog.tableExists(s"${t}_del"))
      assert(TextOps.checkSnapshot(spark, t, "s2") === Nil)
      val out = TextOps.restoreSnapshot(spark, t, "s2")
      assert(out.exists(_.contains("recreated")), out.toString)
      assert(spark.table(s"${t}_del").count() > 0)
    } finally {
      drop((all :+ s"${t}_mf_s2") ++
        TextOps.SnapshotCopySiblings.map(sf =>
          s"$t${sf}_bak_mfs2"): _*)
    }
  }

  test("an anchored fold then a SECOND fold: the anchor keeps the " +
      "old tag serving while unpinned folds run free") {
    val t = s"fg_twice_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      mkFam(t)
      TextOps.snapshotIndex(spark, t, "s1")
      val want = postings(TextOps.readSnapshot(spark, t, "s1"))
      TextOps.compactIndex(spark, t, FoldGuard.Anchor)
      // after the anchored fold the tag no longer pins LIVE files, so
      // the next fold needs no guard decision at all
      append(t, Seq(31L))
      TextOps.compactIndex(spark, t)
      assert(postings(TextOps.readSnapshot(spark, t, "s1")) === want)
      assert(TextOps.checkSnapshot(spark, t, "s1") === Nil)
    } finally drop(all: _*)
  }
}
