package graft

import graft.operators.TextOps
import graft.streaming.{IndexGroup, StreamingOps}
import org.scalatest.funsuite.AnyFunSuite

/** PROMOTE A DIFFERENTIAL BACKUP TO SELF-CONTAINED (r17): the last
  * verb the differential chain lifecycle needs. `dropBackup` rightly
  * refuses to drop a base tag that live differentials borrow from —
  * but without promote, the ONLY way to ever retire that base is a
  * fresh full backup of the live family. `promoteBackup` materializes
  * the borrowed bytes into the dependent's own copy (reading backup
  * bytes, never touching live members), then rewrites its marker with
  * the borrows cleared: the base drops clean, and future differentials
  * anchor on the promoted tag. The verb converges under any crash —
  * bytes first (idempotent; a half-promoted set stays checkBackup-
  * green and restorable from either side), marker rewrite last.
  */
class PromoteBackupSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def famAll(t: String): Seq[String] =
    (t +: TextOps.BackupSiblings.map(t + _)).flatMap(m =>
      Seq(m, s"${m}_bak_base", s"${m}_bak_d1", s"${m}_bak_d2")) ++
      Seq(s"${t}_bakok_base", s"${t}_bakok_d1", s"${t}_bakok_d2",
        s"${t}_docs", s"${t}_docs_bak_base", s"${t}_docs_bak_d1",
        s"${t}_docs_bak_d2")

  private def postings(t: String): Seq[(Long, String, Long)] =
    spark.table(t).selectExpr("doc_id", "token", "tf").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq.sorted

  private def srcs(marker: String): Seq[String] =
    TextOps.readBackupMarker(spark, marker).flatMap(_._4)
      .distinct.sorted

  test("promoting a chained differential clears its borrows, frees " +
      "its bases for drop, and the promoted tag restores bit-exact " +
      "with every base gone") {
    val t = s"pb_bm25_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        (1L to 30L).map(i => i -> s"spark shuffle join token$i data")
          .toDF("doc_id", "text"), t)
      TextOps.backupIndex(spark, t, "base")
      TextOps.appendBm25Postings(
        (31L to 33L).map(i => i -> s"spark shuffle join token$i data")
          .toDF("doc_id", "text"), t)
      TextOps.backupIndex(spark, t, "d1", baseTag = Some("base"))
      TextOps.appendBm25Postings(
        (34L to 35L).map(i => i -> s"spark shuffle join token$i data")
          .toDF("doc_id", "text"), t)
      TextOps.backupIndex(spark, t, "d2", baseTag = Some("d1"))
      val asOfD2 = postings(t)
      assert(srcs(s"${t}_bakok_d2") === Seq("base", "d1"))
      // provenance names the holding tags and their byte shares —
      // the promote-vs-retake gauge
      val prov = TextOps.backupProvenance(spark, t, "d2")
      assert(prov.map(_._1).sorted === Seq("base", "d1", "d2"),
        prov.toString)
      val totalBytes = prov.map(_._3).sum
      val borrowedBytes = prov.filter(_._1 != "d2").map(_._3).sum
      assert(borrowedBytes > 0)
      // promote d2: every borrowed file materializes into its own copy
      val notes = TextOps.promoteBackup(spark, t, "d2")
      assert(notes.exists(_.contains("materialized")), notes.toString)
      assert(srcs(s"${t}_bakok_d2") === Nil)
      // provenance collapses to one self row, same total bytes
      assert(TextOps.backupProvenance(spark, t, "d2") ===
        Seq(("d2", prov.map(_._2).sum, totalBytes)))
      assert(TextOps.checkBackup(spark, t, "d2") === Nil)
      // d2 no longer depends on anyone; d1 still borrows from base
      assert(TextOps.dependentBackups(spark, t, "d1") === Nil)
      assert(TextOps.dependentBackups(spark, t, "base") === Seq("d1"))
      // the chain retires: d1 first, then base — no refusals left
      TextOps.dropBackup(spark, t, "d1")
      TextOps.dropBackup(spark, t, "base")
      assert(TextOps.listBackups(spark, t) === Seq("d2"))
      // promoted tag restores bit-exact with every base gone
      TextOps.appendBm25Postings(
        Seq(99L -> "post promote mutation").toDF("doc_id", "text"), t)
      assert(postings(t) !== asOfD2)
      TextOps.restoreIndex(spark, t, "d2")
      assert(postings(t) === asOfD2)
      // idempotent second promote is a documented no-op
      assert(TextOps.promoteBackup(spark, t, "d2")
        .exists(_.contains("already self-contained")))
    } finally drop(all: _*)
  }

  test("a crash mid-promote leaves a green, restorable set that a " +
      "re-run converges — borrowed bytes serve from EITHER side") {
    val t = s"pb_crash_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        (1L to 20L).map(i => i -> s"spark shuffle token$i")
          .toDF("doc_id", "text"), t)
      TextOps.backupIndex(spark, t, "base")
      TextOps.appendBm25Postings(
        Seq(21L -> "window append").toDF("doc_id", "text"), t)
      TextOps.backupIndex(spark, t, "d1", baseTag = Some("base"))
      val asOfD1 = postings(t)
      // simulate the crash: phase-2 copied ONE borrowed file into the
      // own copy, then died before the marker rewrite
      val borrowed = TextOps.readBackupMarker(spark, s"${t}_bakok_d1")
        .collect { case (m, Some(p), l, Some(b), _) => (m, p, l, b) }
      assert(borrowed.nonEmpty)
      val (m0, p0, l0, b0) = borrowed
        .filter(_._1 == s"${t}_bak_d1").minBy(_._2)
      TextOps.copyDataFiles(spark,
        TextOps.tableLocation(spark, s"${t}_bak_$b0"),
        TextOps.tableLocation(spark, m0), Seq(p0))
      // the half-promoted set is NOT a violation: the marker still
      // records the borrow, the bytes exist on both sides
      assert(TextOps.checkBackup(spark, t, "d1") === Nil)
      // it still restores (marker still names d1 a dependent, so the
      // base is still protected — conservative and correct)
      TextOps.appendBm25Postings(
        Seq(99L -> "mutation").toDF("doc_id", "text"), t)
      TextOps.restoreIndex(spark, t, "d1")
      assert(postings(t) === asOfD1)
      assert(TextOps.dependentBackups(spark, t, "base") === Seq("d1"))
      // TEETH: once materialized, the own copy serves even when the
      // base copy loses that very file — audit stays green, restore
      // reads the materialized side
      val baseLoc = TextOps.tableLocation(spark, s"${t}_bak_$b0")
      val fs = baseLoc.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(baseLoc, p0), false)
      assert(TextOps.checkBackup(spark, t, "d1") === Nil)
      TextOps.restoreIndex(spark, t, "d1")
      assert(postings(t) === asOfD1)
      // but the re-run promote REFUSES: a different, not-yet-
      // materialized borrowed file may still be pending against the
      // damaged base (if all were materialized it would converge)
      val pending = borrowed.filterNot(r => r._2 == p0 && r._1 == m0)
      if (pending.exists(_._4 == b0)) {
        // d1's other borrowed files from base are still intact in the
        // base copy (only p0 was deleted), so promote converges
        val notes = TextOps.promoteBackup(spark, t, "d1")
        assert(notes.exists(_.contains("already present")),
          notes.toString)
      } else {
        TextOps.promoteBackup(spark, t, "d1")
      }
      assert(srcs(s"${t}_bakok_d1") === Nil)
      assert(TextOps.dependentBackups(spark, t, "base") === Nil)
      // full convergence: base (audit-broken for its OWN set now)
      // drops, the promoted d1 restores alone
      TextOps.dropBackup(spark, t, "base")
      TextOps.restoreIndex(spark, t, "d1")
      assert(postings(t) === asOfD1)
    } finally drop(all: _*)
  }

  test("promote refuses when a pending borrowed file is gone from " +
      "its base copy — it cannot invent bytes") {
    val t = s"pb_refuse_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        (1L to 15L).map(i => i -> s"spark token$i")
          .toDF("doc_id", "text"), t)
      TextOps.backupIndex(spark, t, "base")
      TextOps.appendBm25Postings(
        Seq(16L -> "window").toDF("doc_id", "text"), t)
      TextOps.backupIndex(spark, t, "d1", baseTag = Some("base"))
      // lose a borrowed file from the base copy BEFORE any promote
      val loc = TextOps.tableLocation(spark, s"${t}_bak_base")
      val fs = loc.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val victim = TextOps.listDataFiles(spark, s"${t}_bak_base")
        .map(_._1).min
      fs.delete(new org.apache.hadoop.fs.Path(loc, victim), false)
      val e = intercept[IllegalArgumentException] {
        TextOps.promoteBackup(spark, t, "d1")
      }
      assert(e.getMessage.contains("gone from"), e.getMessage)
      // nothing committed: the marker still records the borrows
      assert(srcs(s"${t}_bakok_d1") === Seq("base"))
      // a full backup promotes as a no-op (nothing borrowed)
      assert(TextOps.promoteBackup(spark, t, "base")
        .exists(_.contains("already self-contained")))
    } finally drop(all: _*)
  }

  test("group promote frees the base group: prune then retires it " +
      "instead of keeping it with a note") {
    val base = s"pb_doc_p$pid"
    val bm25T = s"${base}_bm25"
    val bandT = s"${base}_band"
    val fams = Seq(bandT, bm25T)
    val tables = (fams.flatMap(f =>
        f +: TextOps.BackupSiblings.map(f + _))
      .flatMap(m => Seq(m, s"${m}_bak_b0", s"${m}_bak_d1")) ++
      fams.flatMap(f => Seq(s"${f}_bakok_b0", s"${f}_bakok_d1")) ++
      Seq(s"${base}_dbakok_b0", s"${base}_dbakok_d1",
        s"${bm25T}_docs", s"${base}_hashes")).distinct
    drop(tables: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        (1L to 20L).map(i => i -> s"spark shuffle join token$i data")
          .toDF("doc_id", "text"), bm25T)
      TextOps.writeBandIndex(
        (1L to 20L).map(i =>
          (i, s"spark shuffle join token$i data", "en", "s0", 25L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"),
        bandT)
      StreamingOps.backup(spark, IndexGroup.documents(base), "b0")
      TextOps.appendBm25Postings(
        (21L to 22L).map(i => i -> s"spark shuffle join token$i data")
          .toDF("doc_id", "text"), bm25T)
      StreamingOps.backup(spark, IndexGroup.documents(base), "d1",
        baseTag = Some("b0"))
      val asOfD1 = postings(bm25T)
      // before promote: retention protects the borrowed-from base
      val kept = StreamingOps.pruneBackups(spark, IndexGroup.documents(base),
        TextOps.Retention.KeepNewest(1))
      assert(kept.exists(_.startsWith("kept backup b0")),
        kept.toString)
      // promote the group, then the same prune retires b0
      val notes = StreamingOps.promote(spark, IndexGroup.documents(base), "d1")
      assert(notes.exists(_.contains("materialized")), notes.toString)
      assert(StreamingOps.checkBackup(spark,
        IndexGroup.documents(base), "d1") ===
        Nil)
      val pruned = StreamingOps.pruneBackups(spark,
        IndexGroup.documents(base), TextOps.Retention.KeepNewest(1))
      assert(pruned.exists(_.contains("b0")) &&
        !pruned.exists(_.startsWith("kept backup b0")),
        pruned.toString)
      assert(StreamingOps.listBackups(spark, IndexGroup.documents(base)) ===
        Seq("d1"))
      // the promoted group restores with its base gone
      TextOps.appendBm25Postings(
        Seq(99L -> "post mutation").toDF("doc_id", "text"), bm25T)
      StreamingOps.restore(spark, IndexGroup.documents(base), "d1")
      assert(postings(bm25T) === asOfD1)
    } finally drop(tables: _*)
  }
}
