package graft

import graft.operators.TextOps
import graft.operators.TextOps.Retention
import graft.streaming.{IndexGroup, StreamingOps}
import org.scalatest.funsuite.AnyFunSuite

/** AGE-BASED RETENTION (r17, VERDICT item 6): `pruneSnapshots` /
  * `pruneBackups` with a `Retention.OlderThan` beside the count-based
  * `Retention.KeepNewest`, family and stream level, against the same
  * mtime clock the list verbs report (`nowMs` injectable so these
  * tests are deterministic). The backup
  * pruners respect the differential chain: a base tag with live
  * dependents is KEPT with a note, never dropped out from under them —
  * and a fully retired chain clears in one pass (dependents drop
  * first, newest-first).
  */
class RetentionAgeSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def famAll(t: String): Seq[String] =
    (t +: TextOps.BackupSiblings.map(t + _)).flatMap(m =>
      Seq(m) ++ Seq("base", "d1", "f2", "s1", "s2").map(g =>
        s"${m}_bak_$g")) ++
      Seq("base", "d1", "f2").map(g => s"${t}_bakok_$g") ++
      Seq("s1", "s2").map(g => s"${t}_mf_$g") ++
      TextOps.SnapshotCopySiblings.flatMap(sf =>
        Seq(s"$t${sf}_bak_mfs1", s"$t${sf}_bak_mfs2")) :+ s"${t}_docs"

  private def mk(t: String, ids: Seq[Long]): Unit = {
    val sp = spark
    import sp.implicits._
    TextOps.appendBm25Postings(
      ids.map(i => i -> s"spark shuffle join token$i")
        .toDF("doc_id", "text"), t)
  }

  test("Retention refuses bad bounds when built; KeepNewest keeps the " +
      "order and never reads an age; OlderThan's cutoff is strict") {
    intercept[IllegalArgumentException](Retention.KeepNewest(0))
    intercept[IllegalArgumentException](Retention.OlderThan(-1L))
    val items = Seq("c", "b", "a")
    val noAge = (_: String) => fail("KeepNewest read an age"): Long
    assert(Retention.KeepNewest(1).select(items)(noAge) === Seq("b", "a"))
    assert(Retention.KeepNewest(3).select(items)(noAge) === Nil)
    // cutoff = nowMs - ms = 900: exactly at it stays, 1 ms older drops
    val mtime = Map("c" -> 901L, "b" -> 900L, "a" -> 899L)
    assert(Retention.OlderThan(100L, nowMs = 1000L).select(items)(mtime)
      === Seq("a"))
    assert(Retention.OlderThan(0L, nowMs = 902L).select(items)(mtime)
      === items)
  }

  test("pruneSnapshotsOlderThan drops exactly the tags past the " +
      "cutoff; the newer tag keeps serving") {
    val t = s"ra_snap_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      mk(t, 1L to 8L)
      TextOps.snapshotIndex(spark, t, "s1")
      Thread.sleep(30)
      mk(t, Seq(9L))
      TextOps.snapshotIndex(spark, t, "s2")
      val ages = TextOps.listSnapshots(spark, t).toMap
      assert(ages("s2") > ages("s1"), ages.toString)
      // cutoff strictly between the two mtimes
      val now = ages("s2") + 1000L
      val out = TextOps.pruneSnapshots(spark, t, Retention.OlderThan(
        now - (ages("s1") + ages("s2")) / 2 - 1, nowMs = now))
      assert(out === Seq("dropped snapshot s1"), out.toString)
      assert(TextOps.listSnapshots(spark, t).map(_._1) === Seq("s2"))
      assert(TextOps.checkSnapshot(spark, t, "s2") === Nil)
      // nothing old enough left: no-op
      assert(TextOps.pruneSnapshots(spark, t,
        Retention.OlderThan(3600000L, nowMs = now)) === Nil)
    } finally drop(all: _*)
  }

  test("pruneBackups keeps a differential base alive under its " +
      "dependents, and clears a fully retired chain in one pass") {
    val t = s"ra_bak_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      mk(t, 1L to 8L)
      TextOps.backupIndex(spark, t, "base")
      Thread.sleep(30)
      mk(t, Seq(9L))
      TextOps.backupIndex(spark, t, "d1", baseTag = Some("base"))
      // keep=1 keeps d1 (newest); base survives WITH A NOTE because
      // d1 borrows its files
      val out1 = TextOps.pruneBackups(spark, t, Retention.KeepNewest(1))
      assert(out1.exists(v => v.startsWith("kept backup base") &&
        v.contains("d1")), out1.toString)
      assert(TextOps.listBackups(spark, t).sorted ===
        Seq("base", "d1"))
      // both past the age cutoff: one pass drops d1 FIRST (newest
      // first), which frees base to drop too
      val ages = TextOps.listBackupsWithAge(spark, t).toMap
      val now = ages("d1") + 1000L
      val out2 = TextOps.pruneBackups(spark, t,
        Retention.OlderThan(0L, nowMs = now))
      assert(out2 === Seq("dropped backup d1", "dropped backup base"),
        out2.toString)
      assert(TextOps.listBackups(spark, t) === Nil)
    } finally drop(all: _*)
  }

  test("stream-level twins: age-pruned snapshots and count/age-pruned " +
      "group backups") {
    val base = s"ra_doc_p$pid"
    val t = s"${base}_bm25"
    val all = famAll(t) ++
      Seq("a", "b").flatMap(g => Seq(s"${base}_dbakok_$g",
        s"${t}_bak_$g", s"${t}_docs_bak_$g", s"${t}_bakok_$g")) ++
      Seq(s"${base}_mf_s1", s"${base}_mf_s2")
    drop(all: _*)
    try {
      mk(t, 1L to 6L)
      StreamingOps.backup(spark, IndexGroup.documents(base), "a")
      Thread.sleep(30)
      StreamingOps.backup(spark, IndexGroup.documents(base), "b")
      assert(StreamingOps.listBackups(spark, IndexGroup.documents(base)) ===
        Seq("a", "b"))
      val outK = StreamingOps.pruneBackups(spark, IndexGroup.documents(base),
        Retention.KeepNewest(1))
      assert(outK === Seq("dropped backup a"), outK.toString)
      assert(StreamingOps.listBackups(spark, IndexGroup.documents(base)) ===
        Seq("b"))
      val ages = StreamingOps.listBackupsWithAge(spark,
        IndexGroup.documents(base))
      val outA = StreamingOps.pruneBackups(spark,
        IndexGroup.documents(base),
        Retention.OlderThan(0L, nowMs = ages.head._2 + 1000L))
      assert(outA === Seq("dropped backup b"), outA.toString)
      assert(StreamingOps.listBackups(spark,
        IndexGroup.documents(base)) === Nil)
      // snapshot twins
      StreamingOps.snapshot(spark, IndexGroup.documents(base), "s1")
      Thread.sleep(30)
      StreamingOps.snapshot(spark, IndexGroup.documents(base), "s2")
      val sAges = StreamingOps.listSnapshots(spark, IndexGroup.documents(base))
        .toMap
      val now = sAges("s2") + 1000L
      val outS = StreamingOps.pruneSnapshots(spark,
        IndexGroup.documents(base), Retention.OlderThan(
          now - (sAges("s1") + sAges("s2")) / 2 - 1, nowMs = now))
      assert(outS === Seq("dropped snapshot s1"), outS.toString)
      assert(StreamingOps.listSnapshots(spark, IndexGroup.documents(base))
        .map(_._1) === Seq("s2"))
      assert(StreamingOps.checkSnapshot(spark, IndexGroup.documents(base), "s2")
        === Nil)
    } finally drop(all: _*)
  }
}
