package graft

import graft.operators.TextOps
import org.scalatest.funsuite.AnyFunSuite

/** DIFFERENTIAL COPY BACKUPS (r17, VERDICT item 2): the r16 commit
  * markers record every tag's (path, len) file set — now the backup
  * verbs USE them. `backupIndex(tag, baseTag)` physically copies only
  * the files absent from the base tag's committed manifest and
  * records the rest by (flat) reference to the tag holding the
  * bytes; `checkBackup` audits across the chain; `restoreIndex`
  * resolves it; `dropBackup` of a base with live dependents refuses.
  * Between folds members only append part-files, so a differential
  * copies the append window, not the corpus — at 100 TB that is the
  * difference between a daily delta and a daily full rewrite.
  */
class DiffBackupSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def famAll(t: String): Seq[String] =
    (t +: TextOps.BackupSiblings.map(t + _)).flatMap(m =>
      Seq(m, s"${m}_bak_base", s"${m}_bak_d1", s"${m}_bak_d2")) ++
      Seq(s"${t}_bakok_base", s"${t}_bakok_d1", s"${t}_bakok_d2",
        s"${t}_docs", s"${t}_docs_bak_base", s"${t}_docs_bak_d1",
        s"${t}_docs_bak_d2")

  /** Total data-file bytes physically under a copy table's own
    * location. */
  private def ownBytes(t: String): Long =
    if (!spark.catalog.tableExists(t)) 0L
    else TextOps.listDataFiles(spark, t).map(_._2).sum

  private def postings(t: String): Seq[(Long, String, Long)] =
    spark.table(t).selectExpr("doc_id", "token", "tf").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq.sorted

  test("a 10% append backs up as ~10% of the bytes; the chained " +
      "restore is bit-exact; dropping a base with dependents refuses") {
    val t = s"db_bm25_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      // batch 1: the corpus (40 docs)
      TextOps.appendBm25Postings(
        (1L to 40L).map(i => i -> s"spark shuffle join token$i data")
          .toDF("doc_id", "text"), t)
      TextOps.backupIndex(spark, t, "base")
      assert(TextOps.checkBackup(spark, t, "base") === Nil)
      val fullBytes = ownBytes(s"${t}_bak_base")
      // batch 2: a ~10% append window
      TextOps.appendBm25Postings(
        (41L to 44L).map(i => i -> s"spark shuffle join token$i data")
          .toDF("doc_id", "text"), t)
      TextOps.backupIndex(spark, t, "d1", baseTag = Some("base"))
      assert(TextOps.checkBackup(spark, t, "d1") === Nil)
      val diffBytes = ownBytes(s"${t}_bak_d1")
      // the differential physically copied only the append window:
      // well under half the full copy (4 docs of 44, one part-file
      // against batch 1's files)
      assert(diffBytes > 0, "differential copied nothing")
      assert(diffBytes * 2 < fullBytes,
        s"differential copied $diffBytes of $fullBytes bytes — not " +
          "a delta")
      // and fewer own files than the live member holds
      assert(TextOps.listDataFiles(spark, s"${t}_bak_d1").size <
        TextOps.listDataFiles(spark, t).size)
      val asOfD1 = postings(t)
      // mutate past the backup, then converge back to d1 exactly
      TextOps.appendBm25Postings(
        Seq(99L -> "post backup mutation rows").toDF("doc_id", "text"), t)
      assert(postings(t) !== asOfD1)
      val out = TextOps.restoreIndex(spark, t, "d1")
      assert(out.exists(_.startsWith("restored ")), out.toString)
      assert(postings(t) === asOfD1)
      // chained differential: d2 against d1 borrows from BOTH base
      // (batch-1 files, recorded flat) and d1 (batch-2 file)
      TextOps.appendBm25Postings(
        (45L to 46L).map(i => i -> s"spark shuffle join token$i data")
          .toDF("doc_id", "text"), t)
      TextOps.backupIndex(spark, t, "d2", baseTag = Some("d1"))
      assert(TextOps.checkBackup(spark, t, "d2") === Nil)
      val srcs = TextOps.readBackupMarker(spark, s"${t}_bakok_d2")
        .flatMap(_._4).distinct.sorted
      assert(srcs === Seq("base", "d1"), srcs.toString)
      // base protects its dependents
      val e1 = intercept[IllegalArgumentException] {
        TextOps.dropBackup(spark, t, "base")
      }
      assert(e1.getMessage.contains("differential base"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        TextOps.dropBackup(spark, t, "d1")
      }
      assert(e2.getMessage.contains("d2"), e2.getMessage)
      // the d2 chain restores bit-exact after another mutation
      val asOfD2 = postings(t)
      TextOps.appendBm25Postings(
        Seq(100L -> "later mutation").toDF("doc_id", "text"), t)
      TextOps.restoreIndex(spark, t, "d2")
      assert(postings(t) === asOfD2)
      // dependents first, then the base drops clean
      TextOps.dropBackup(spark, t, "d2")
      TextOps.dropBackup(spark, t, "d1")
      TextOps.dropBackup(spark, t, "base")
      assert(TextOps.listBackups(spark, t) === Nil)
    } finally drop(all: _*)
  }

  test("a damaged base copy fails the dependent tag's audit and " +
      "refuses both its restore and a new differential against it") {
    val t = s"db_dmg_p$pid"
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
        Seq(21L -> "appended window").toDF("doc_id", "text"), t)
      TextOps.backupIndex(spark, t, "d1", baseTag = Some("base"))
      assert(TextOps.checkBackup(spark, t, "d1") === Nil)
      // damage the BASE copy (delete one borrowed file's bytes)
      val loc = TextOps.tableLocation(spark, s"${t}_bak_base")
      val fs = loc.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val victim = TextOps.listDataFiles(spark, s"${t}_bak_base")
        .map(_._1).min
      fs.delete(new org.apache.hadoop.fs.Path(loc, victim), false)
      val v = TextOps.checkBackup(spark, t, "d1")
      assert(v.exists(_.contains("borrowed file")), v.toString)
      val e = intercept[IllegalArgumentException] {
        TextOps.restoreIndex(spark, t, "d1")
      }
      assert(e.getMessage.contains("integrity audit"), e.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        TextOps.backupIndex(spark, t, "d2", baseTag = Some("d1"))
      }
      assert(e2.getMessage.contains("integrity audit"), e2.getMessage)
      // the un-borrowed base tag's own audit names the loss too
      assert(TextOps.checkBackup(spark, t, "base")
        .exists(_.contains("lost or changed")))
    } finally drop(all: _*)
  }
}
