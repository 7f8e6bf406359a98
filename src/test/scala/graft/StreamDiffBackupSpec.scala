package graft

import graft.operators.TextOps
import graft.streaming.{IndexGroup, StreamingOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** STREAM-LEVEL DIFFERENTIAL GROUP BACKUPS (r17, past the list): the
  * family-level differential (DiffBackupSpec) lifted to the unified
  * verbs — `backupDocuments(tag, baseTag)` diffs each member family
  * against its own family marker under the base group tag (state
  * tables and checkpoint trees always copy in full: they ARE the
  * deltas), restore resolves the chain through the marker-aware
  * family verb, the group audit gains the per-family chain leg, and
  * both drop AND prune protect a base group other tags borrow from.
  */
class StreamDiffBackupSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def all(base: String): Seq[String] = {
    val fams = Seq(s"${base}_band", s"${base}_bm25")
    (fams.flatMap(f => f +: TextOps.BackupSiblings.map(f + _))
      .flatMap(m => Seq(m, s"${m}_bak_b0", s"${m}_bak_d1")) ++
      fams.flatMap(f => Seq(s"${f}_bakok_b0", s"${f}_bakok_d1")) ++
      Seq(s"${base}_dbakok_b0", s"${base}_dbakok_d1",
        s"${base}_bm25_docs", s"${base}_hashes")).distinct
  }

  private def ownBytes(t: String): Long =
    if (!spark.catalog.tableExists(t)) 0L
    else TextOps.listDataFiles(spark, t).map(_._2).sum

  private def postings(t: String): Seq[(Long, String, Long)] =
    spark.table(t).selectExpr("doc_id", "token", "tf").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq.sorted

  test("group differential: the append window copies, the untouched " +
      "member borrows everything, restore resolves the chain, drop " +
      "and prune protect the base group") {
    val base = s"sdb_doc_p$pid"
    val bm25T = s"${base}_bm25"
    val bandT = s"${base}_band"
    val tables = all(base)
    drop(tables: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        (1L to 30L).map(i => i -> s"spark shuffle join token$i data")
          .toDF("doc_id", "text"), bm25T)
      TextOps.writeBandIndex(
        (1L to 30L).map(i =>
          (i, s"spark shuffle join token$i data", "en", "s0", 25L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"),
        bandT)
      StreamingOps.backup(spark, IndexGroup.documents(base), "b0")
      assert(StreamingOps.checkBackup(spark,
        IndexGroup.documents(base), "b0") ===
        Nil)
      val fullBm = ownBytes(s"${bm25T}_bak_b0")
      // the append window touches ONLY the bm25 member
      TextOps.appendBm25Postings(
        (31L to 33L).map(i => i -> s"spark shuffle join token$i data")
          .toDF("doc_id", "text"), bm25T)
      StreamingOps.backup(spark, IndexGroup.documents(base), "d1",
        baseTag = Some("b0"))
      assert(StreamingOps.checkBackup(spark,
        IndexGroup.documents(base), "d1") ===
        Nil)
      // bm25's differential copies the window, not the corpus...
      val diffBm = ownBytes(s"${bm25T}_bak_d1")
      assert(diffBm > 0 && diffBm * 2 < fullBm,
        s"bm25 differential copied $diffBm of $fullBm")
      // ...and the untouched band member borrows EVERYTHING (its own
      // copy holds zero data files)
      assert(ownBytes(s"${bandT}_bak_d1") === 0L)
      assert(TextOps.readBackupMarker(spark, s"${bandT}_bakok_d1")
        .forall(_._4.contains("b0")))
      // chain restore is bit-exact after further mutation
      val asOfD1 = postings(bm25T)
      TextOps.appendBm25Postings(
        Seq(99L -> "post backup mutation").toDF("doc_id", "text"), bm25T)
      assert(postings(bm25T) !== asOfD1)
      val out = StreamingOps.restore(spark, IndexGroup.documents(base), "d1")
      assert(out.exists(_.startsWith("restored ")), out.toString)
      assert(postings(bm25T) === asOfD1)
      // the base group is protected while d1 lives: direct drop
      // refuses BEFORE touching the group marker...
      val e = intercept[IllegalArgumentException] {
        StreamingOps.dropBackup(spark, IndexGroup.documents(base), "b0")
      }
      assert(e.getMessage.contains("d1"), e.getMessage)
      assert(spark.catalog.tableExists(s"${base}_dbakok_b0"),
        "refused drop must leave the group marker in place")
      // ...and retention keeps it with a note
      val pruned = StreamingOps.pruneBackups(spark,
        IndexGroup.documents(base), TextOps.Retention.KeepNewest(1))
      assert(pruned.exists(v => v.startsWith("kept backup b0") &&
        v.contains("d1")), pruned.toString)
      assert(StreamingOps.listBackups(spark, IndexGroup.documents(base)) ===
        Seq("b0", "d1"))
      // dependents first, then the base clears
      StreamingOps.dropBackup(spark, IndexGroup.documents(base), "d1")
      StreamingOps.dropBackup(spark, IndexGroup.documents(base), "b0")
      assert(StreamingOps.listBackups(spark,
        IndexGroup.documents(base)) === Nil)
    } finally drop(tables: _*)
  }

  test("a lost borrowed file surfaces in the GROUP audit via the " +
      "per-family chain leg, and the group restore refuses") {
    val base = s"sdb_dmg_p$pid"
    val bm25T = s"${base}_bm25"
    val tables = all(base)
    drop(tables: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        (1L to 12L).map(i => i -> s"spark token$i")
          .toDF("doc_id", "text"), bm25T)
      StreamingOps.backup(spark, IndexGroup.documents(base), "b0")
      TextOps.appendBm25Postings(
        Seq(13L -> "window append").toDF("doc_id", "text"), bm25T)
      StreamingOps.backup(spark, IndexGroup.documents(base), "d1",
        baseTag = Some("b0"))
      assert(StreamingOps.checkBackup(spark,
        IndexGroup.documents(base), "d1") ===
        Nil)
      // damage the BASE copy the d1 take borrows from
      val loc = TextOps.tableLocation(spark, s"${bm25T}_bak_b0")
      val fs = loc.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val victim = TextOps.listDataFiles(spark, s"${bm25T}_bak_b0")
        .map(_._1).min
      fs.delete(new org.apache.hadoop.fs.Path(loc, victim), false)
      val v = StreamingOps.checkBackup(spark, IndexGroup.documents(base), "d1")
      assert(v.exists(_.contains("borrowed file")), v.toString)
      val e = intercept[IllegalArgumentException] {
        StreamingOps.restore(spark, IndexGroup.documents(base), "d1")
      }
      assert(e.getMessage.contains("integrity audit"), e.getMessage)
    } finally drop(tables: _*)
  }
}
