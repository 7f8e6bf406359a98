package graft

import graft.operators.{AnnIndex, TextOps}
import graft.streaming.{IndexGroup, StreamingOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BACKUP-SET COMMIT MARKERS (r16): a copy-based backup is a GROUP of
  * per-member copies taken one at a time — a crash mid-set (or
  * mid-re-take, where fresh copies mix with a previous take's stale
  * ones) used to leave a set `restoreIndex` would happily restore
  * into a frankenstein family. Now every backup verb retires a
  * commit marker FIRST and writes it LAST:
  *   - `<table>_bakok_<tag>` for family backups (backupIndex);
  *   - `<base>_dbakok_<tag>` / `<base>_vbakok_<tag>` for the
  *     stream-level document/vector groups;
  *   - the manifest itself for manifest snapshots (now retired
  *     before the meta-member copies are rewritten).
  * Restore REQUIRES the marker; listBackups lists only committed
  * tags; checkBackup/checkDocumentsBackup audit a set read-only;
  * a marker-less set is healed by re-taking it.
  */
class CommitMarkerSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def famAll(t: String): Seq[String] =
    (t +: TextOps.BackupSiblings.map(t + _))
      .flatMap(m => Seq(m, s"${m}_bak_bak")) :+ s"${t}_bakok_bak"

  test("family backup: marker-less copies refuse to restore, are " +
      "not listed, and are named by checkBackup; a re-take heals; " +
      "dropBackup clears the marker") {
    val t = s"cm_bm25_p$pid"
    val all = famAll(t) ++ Seq(s"${t}_docs")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        Seq(1L -> "spark join window", 2L -> "hash scan merge")
          .toDF("doc_id", "text"), t)
      val written = TextOps.backupIndex(spark, t)
      assert(written.contains(s"${t}_bakok_bak"), written.toString)
      assert(spark.catalog.tableExists(s"${t}_bakok_bak"))
      assert(TextOps.listBackups(spark, t) === Seq("bak"))
      assert(TextOps.checkBackup(spark, t) === Nil)
      // the crashed-backup state: copies on disk, no marker
      spark.sql(s"DROP TABLE ${t}_bakok_bak")
      val e = intercept[IllegalArgumentException] {
        TextOps.restoreIndex(spark, t)
      }
      assert(e.getMessage.contains("no commit marker"), e.getMessage)
      assert(TextOps.listBackups(spark, t) === Nil)
      val v = TextOps.checkBackup(spark, t)
      assert(v.exists(_.contains("no commit marker")), v.toString)
      // the heal the refusals name: re-take the set
      TextOps.backupIndex(spark, t)
      assert(TextOps.checkBackup(spark, t) === Nil)
      assert(TextOps.restoreIndex(spark, t)
        .exists(_.startsWith("restored ")))
      // an unrecorded copy under the tag (crashed re-take leftovers)
      // is flagged read-only
      spark.table(s"${t}_bak_bak").limit(1)
        .write.saveAsTable(s"${t}_del_bak_bak")
      val v2 = TextOps.checkBackup(spark, t)
      assert(v2.exists(_.contains("not in the commit marker")),
        v2.toString)
      // dropBackup clears the marker (FIRST, so a crashed drop is a
      // set restore already refuses)
      TextOps.dropBackup(spark, t)
      assert(!spark.catalog.tableExists(s"${t}_bakok_bak"))
      assert(TextOps.listBackups(spark, t) === Nil)
      assert(TextOps.checkBackup(spark, t) === Seq(s"no backup $t/bak"))
    } finally drop(all: _*)
  }

  test("re-taking a backup retires the marker before copying: a " +
      "re-run after any crash converges to a committed set") {
    val t = s"cm_retake_p$pid"
    val all = famAll(t) ++ Seq(s"${t}_docs")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        Seq(1L -> "spark join window").toDF("doc_id", "text"), t)
      TextOps.backupIndex(spark, t)
      val snap = spark.table(s"${t}_bak_bak").count()
      // mutate, re-take: the new marker describes the NEW set
      TextOps.appendBm25Postings(
        Seq(2L -> "hash scan merge data rows").toDF("doc_id", "text"), t)
      TextOps.backupIndex(spark, t)
      assert(spark.table(s"${t}_bak_bak").count() > snap)
      assert(TextOps.checkBackup(spark, t) === Nil)
      assert(TextOps.restoreIndex(spark, t)
        .exists(_.startsWith("restored ")))
    } finally drop(all: _*)
  }

  test("stream-level document group: marker written last, required " +
      "by restore, audited by checkDocumentsBackup") {
    val base = s"cm_doc_p$pid"
    val t = s"${base}_bm25"
    val all = famAll(t) ++ Seq(s"${t}_docs", s"${base}_dbakok_bak")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        Seq(1L -> "spark join window", 2L -> "hash scan merge")
          .toDF("doc_id", "text"), t)
      val e0 = intercept[IllegalArgumentException] {
        StreamingOps.restore(spark, IndexGroup.documents(base))
      }
      assert(e0.getMessage.contains("no backup"), e0.getMessage)
      val written = StreamingOps.backup(spark, IndexGroup.documents(base))
      assert(written.contains(s"${base}_dbakok_bak"), written.toString)
      assert(StreamingOps.checkBackup(spark,
        IndexGroup.documents(base)) === Nil)
      // crashed-group state
      spark.sql(s"DROP TABLE ${base}_dbakok_bak")
      val e = intercept[IllegalArgumentException] {
        StreamingOps.restore(spark, IndexGroup.documents(base))
      }
      assert(e.getMessage.contains("no group marker"), e.getMessage)
      assert(StreamingOps.checkBackup(spark, IndexGroup.documents(base))
        .exists(_.contains("no group marker")))
      // re-take converges
      StreamingOps.backup(spark, IndexGroup.documents(base))
      assert(StreamingOps.restore(spark, IndexGroup.documents(base))
        .exists(_.startsWith("restored ")))
    } finally drop(all: _*)
  }

  test("file-level integrity: a copy that loses a data file after " +
      "commit is flagged by checkBackup and refused by restore") {
    val t = s"cm_files_p$pid"
    val all = famAll(t) ++ Seq(s"${t}_docs")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        Seq(1L -> "spark join window", 2L -> "hash scan merge")
          .toDF("doc_id", "text"), t)
      TextOps.backupIndex(spark, t)
      assert(TextOps.checkBackup(spark, t) === Nil)
      // damage the committed copy: delete one data file (a bucket
      // file) from the `_docs` copy's location
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"),
        s"${t}_docs_bak_bak".toLowerCase)
      val fs = loc.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(loc)
        .map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") ||
          p.getName.startsWith("."))
        .head
      fs.delete(part, false)
      val v = TextOps.checkBackup(spark, t)
      assert(v.exists(_.contains("lost or changed")), v.toString)
      val e = intercept[IllegalArgumentException] {
        TextOps.restoreIndex(spark, t)
      }
      assert(e.getMessage.contains("integrity audit"), e.getMessage)
      // re-taking the backup re-commits a clean manifest
      TextOps.backupIndex(spark, t)
      assert(TextOps.checkBackup(spark, t) === Nil)
      assert(TextOps.restoreIndex(spark, t)
        .exists(_.startsWith("restored ")))
    } finally drop(all: _*)
  }

  test("stream-level vector group: same contract") {
    val base = s"cm_vec_p$pid"
    val t = s"${base}_ann"
    val all = famAll(t) ++ famAll(s"${t}_vec") ++
      Seq(s"${base}_vbakok_bak", s"${t}_cfg_bak_bak")
    drop(all: _*)
    try {
      AnnIndex.write(Tables(spark, sf, "embeddings"), t,
        nBands = 4, bits = 2)
      val written = StreamingOps.backup(spark, IndexGroup.vectors(base))
      assert(written.contains(s"${base}_vbakok_bak"), written.toString)
      assert(StreamingOps.checkBackup(spark, IndexGroup.vectors(base)) === Nil)
      spark.sql(s"DROP TABLE ${base}_vbakok_bak")
      val e = intercept[IllegalArgumentException] {
        StreamingOps.restore(spark, IndexGroup.vectors(base))
      }
      assert(e.getMessage.contains("no group marker"), e.getMessage)
      StreamingOps.backup(spark, IndexGroup.vectors(base))
      assert(StreamingOps.restore(spark, IndexGroup.vectors(base))
        .exists(_.startsWith("restored ")))
      assert(StreamingOps.checkBackup(spark, IndexGroup.vectors(base)) === Nil)
      // group-level file integrity: damage one committed copy file
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"),
        s"${t}_vec_bak_bak".toLowerCase)
      val fs = loc.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(loc).map(_.getPath)
        .filterNot(p => p.getName.startsWith("_") ||
          p.getName.startsWith("."))
        .head
      fs.delete(part, false)
      assert(StreamingOps.checkBackup(spark, IndexGroup.vectors(base))
        .exists(_.contains("lost or changed")))
      val e2 = intercept[IllegalArgumentException] {
        StreamingOps.restore(spark, IndexGroup.vectors(base))
      }
      assert(e2.getMessage.contains("integrity audit"), e2.getMessage)
    } finally drop(all: _*)
  }
}
