package graft

import graft.operators.TextOps
import org.scalatest.funsuite.AnyFunSuite

/** DEEP BACKUP AUDIT (r17): the commit marker's (name, len) identity
  * is O(metadata) and catches lost/changed/extra files — but not
  * same-length BIT ROT inside a committed copy. Backups now record
  * each file's md5 at take time (digested while copying, so the take
  * pays no extra read), and `checkBackup(deep = true)` re-hashes
  * every recorded file at the copy that physically holds it —
  * opt-in O(bytes), the restore-day confidence check, while the
  * cadence check stays O(metadata). Borrowed differential rows
  * inherit the base row's hash and verify at the HOLDER, so one deep
  * audit covers the whole chain; a row without a recorded hash is
  * NAMED as unverifiable, never silently skipped.
  */
class DeepAuditSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def famAll(t: String): Seq[String] =
    (t +: TextOps.BackupSiblings.map(t + _)).flatMap(m =>
      Seq(m, s"${m}_bak_base", s"${m}_bak_d1")) ++
      Seq(s"${t}_bakok_base", s"${t}_bakok_d1")

  /** Flip one bit of the file's first byte in place — length (and
    * the O(metadata) audit's view) unchanged. */
  private def flipByte(t: String, rel: String): Unit =
    flipByteAt(TextOps.tableLocation(spark, t), rel)

  private def flipByteAt(loc: org.apache.hadoop.fs.Path,
      rel: String): Unit = {
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(loc, rel)
    val len = fs.getFileStatus(p).getLen.toInt
    val bytes = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, bytes) finally in.close()
    bytes(0) = (bytes(0) ^ 0x01).toByte
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  test("same-length bit rot passes the O(metadata) check, is named " +
      "by the deep audit at the holding copy (across the " +
      "differential chain), and a re-take heals it; pre-hash " +
      "markers are named unverifiable") {
    val t = s"da_bm25_p$pid"
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
      // fresh chain: shallow AND deep green (deep walks borrowed
      // rows to the base copy holding the bytes)
      assert(TextOps.checkBackup(spark, t, "d1") === Nil)
      assert(TextOps.checkBackup(spark, t, "d1", deep = true) === Nil)

      // corrupt ONE borrowed byte at its holder: a postings file in
      // the BASE copy that d1 records by reference
      val victim = TextOps.readBackupMarker(spark, s"${t}_bakok_d1")
        .collectFirst { case (m, Some(p), _, Some("base"), _)
          if m == s"${t}_bak_d1" => p }
        .getOrElse(fail("no borrowed postings row to corrupt"))
      flipByte(s"${t}_bak_base", victim)

      // the O(metadata) check cannot see it — same names, same
      // lengths — on either tag
      assert(TextOps.checkBackup(spark, t, "d1") === Nil)
      assert(TextOps.checkBackup(spark, t, "base") === Nil)
      // the deep audit names file, holder, and both hashes, on the
      // dependent (via the borrow) AND on the base itself
      val deepD1 = TextOps.checkBackup(spark, t, "d1", deep = true)
      assert(deepD1.exists(v => v.contains(victim) &&
        v.contains(s"${t}_bak_base") && v.contains("content mismatch")),
        deepD1.toString)
      assert(TextOps.checkBackup(spark, t, "base", deep = true)
        .exists(_.contains(victim)))
      // a deep DRILL refuses on the rot a shallow one would copy —
      // nothing is created before the audit passes
      val eD = intercept[IllegalArgumentException] {
        TextOps.restoreIndexAs(spark, t, "d1", s"${t}_dr",
          deep = true)
      }
      assert(eD.getMessage.contains("content mismatch"),
        eD.getMessage)
      assert(!spark.catalog.tableExists(s"${t}_dr"))

      // the heal: re-take the base from the (untouched) live family —
      // d1's borrowed (name, len) set still resolves, hashes match
      // again, the whole chain deep-audits green
      TextOps.backupIndex(spark, t, "base")
      assert(TextOps.checkBackup(spark, t, "base", deep = true) === Nil)
      assert(TextOps.checkBackup(spark, t, "d1", deep = true) === Nil)

      // hash-less leg: a marker whose rows carry a null sha
      // deep-audits as UNVERIFIABLE (named per file), while the
      // shallow check stays green
      val legacyRows = TextOps
        .readBackupMarker(spark, s"${t}_bakok_d1")
        .map { case (m, p, l, src, _) =>
          (m, p.orNull, l, src.orNull, null: String) }
      drop(s"${t}_bakok_d1")
      legacyRows.toDF("member", "path", "len", "src", "sha")
        .coalesce(1).write.saveAsTable(s"${t}_bakok_d1")
      assert(TextOps.checkBackup(spark, t, "d1") === Nil)
      val deepLegacy = TextOps.checkBackup(spark, t, "d1", deep = true)
      assert(deepLegacy.nonEmpty &&
        deepLegacy.forall(_.contains("no recorded content hash")),
        deepLegacy.toString)
    } finally drop(all: _*)
  }

  test("copyDataFiles' distributed path (above the file-count " +
      "threshold) copies bit-exact and returns the same md5s the " +
      "driver path computes") {
    val srcDir = java.nio.file.Files
      .createTempDirectory("graft_dcp_src")
    val dstDir = java.nio.file.Files
      .createTempDirectory("graft_dcp_dst")
    val n = TextOps.DistributedCopyThreshold + 4
    val rels = (1 to n).map(i => s"sub/part-$i.bin")
    val md5s = rels.map { r =>
      val p = srcDir.resolve(r)
      java.nio.file.Files.createDirectories(p.getParent)
      val bytes = (s"payload $r " * (r.length % 7 + 1)).getBytes
      java.nio.file.Files.write(p, bytes)
      r -> java.security.MessageDigest.getInstance("MD5")
        .digest(bytes).map("%02x".format(_)).mkString
    }.toMap
    val got = TextOps.copyDataFiles(spark,
      new org.apache.hadoop.fs.Path(srcDir.toString),
      new org.apache.hadoop.fs.Path(dstDir.toString), rels)
    assert(got === md5s, "distributed-copy hashes diverged")
    rels.foreach { r =>
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(srcDir.resolve(r)),
        java.nio.file.Files.readAllBytes(dstDir.resolve(r))),
        s"$r not bit-exact after distributed copy")
    }
  }

  test("anchor deep audit: bit rot in a fold anchor — possibly the " +
      "pin's only copy — passes every (name, len) check and is " +
      "named by checkSnapshot(deep = true)") {
    val t = s"da_anchor_p$pid"
    val all = famAll(t) ++ Seq(s"${t}_mf_s1") ++
      TextOps.SnapshotCopySiblings.map(sf => s"$t${sf}_bak_mfs1")
    drop(all.distinct: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        (1L to 20L).map(i => i -> s"spark shuffle token$i")
          .toDF("doc_id", "text"), t)
      TextOps.snapshotIndex(spark, t, "s1")
      // an anchored fold copies the pinned postings aside (with
      // their md5 sidecar) and rewrites the live files
      TextOps.compactIndex(spark, t,
        TextOps.FoldGuard.Anchor)
      assert(TextOps.checkSnapshot(spark, t, "s1") === Nil)
      assert(TextOps.checkSnapshot(spark, t, "s1", deep = true) ===
        Nil)
      val aDir = TextOps.anchorDir(spark, t, "s1")
      val rel = TextOps.listFilesUnder(spark, aDir).head._1
      flipByteAt(aDir, rel)
      // (name, len) identity — readSnapshot's and the shallow
      // check's whole world — stays green...
      assert(TextOps.checkSnapshot(spark, t, "s1") === Nil)
      // ...and the deep audit names the anchor rot
      val deepV = TextOps.checkSnapshot(spark, t, "s1", deep = true)
      assert(deepV.exists(v => v.contains(rel) &&
        v.contains("anchor content mismatch")), deepV.toString)
    } finally drop(all.distinct: _*)
  }

  test("group deep audit: bit rot in a state-table copy and in a " +
      "member-family copy both pass the shallow group check and are " +
      "named by checkDocumentsBackup(deep = true)") {
    val base = s"da_doc_p$pid"
    val fams = Seq(s"${base}_band", s"${base}_bm25")
    val all = (fams.flatMap(f =>
      (f +: TextOps.BackupSiblings.map(f + _)).flatMap(m =>
        Seq(m, s"${m}_bak_b0")) ++ Seq(s"${f}_bakok_b0")) ++
      Seq(s"${base}_dbakok_b0", s"${base}_bm25_docs",
        s"${base}_hashes", s"${base}_hashes_bak_b0")).distinct
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        (1L to 20L).map(i => i -> s"spark shuffle token$i")
          .toDF("doc_id", "text"), s"${base}_bm25")
      TextOps.writeBandIndex(
        (1L to 20L).map(i => (i, s"spark shuffle token$i"))
          .toDF("doc_id", "text"), s"${base}_band")
      Seq((1L, "h1"), (2L, "h2")).toDF("doc_id", "h")
        .write.saveAsTable(s"${base}_hashes")
      streaming.StreamingOps.backup(spark,
        streaming.IndexGroup.documents(base), "b0")
      assert(streaming.StreamingOps.checkBackup(spark,
        streaming.IndexGroup.documents(base),
        "b0") === Nil)
      assert(streaming.StreamingOps.checkBackup(spark,
        streaming.IndexGroup.documents(base),
        "b0", deep = true) === Nil)
      // bit rot in the STATE copy (group-marker rows) and in a
      // FAMILY copy (family-marker rows) — both same-length
      val stCopy = s"${base}_hashes_bak_b0"
      flipByte(stCopy, TextOps.listDataFiles(spark, stCopy).head._1)
      val famCopy = s"${base}_bm25_bak_b0"
      flipByte(famCopy, TextOps.listDataFiles(spark, famCopy).head._1)
      assert(streaming.StreamingOps.checkBackup(spark,
        streaming.IndexGroup.documents(base),
        "b0") === Nil, "shallow group check saw a same-length flip")
      val deepV = streaming.StreamingOps.checkBackup(spark,
        streaming.IndexGroup.documents(base), "b0", deep = true)
      assert(deepV.exists(v => v.contains(stCopy) &&
        v.contains("content mismatch")), deepV.toString)
      assert(deepV.exists(v => v.contains(famCopy) &&
        v.contains("content mismatch")), deepV.toString)
    } finally drop(all: _*)
  }
}
