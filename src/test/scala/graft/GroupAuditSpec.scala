package graft

import graft.operators.{AnnIndex, TextOps}
import graft.streaming.{IndexGroup, StreamingOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r16 ADVICE quartet, closed:
  *   1. the stream-level group audit gains the EXTRAS pass the
  *      family-level checkBackup already had — an out-of-band
  *      `_bak_<tag>` copy the group marker does not record is named
  *      read-only and refused by restore (which would resurrect it
  *      as a live member);
  *   2. dropping a stream backup tag sweeps a crashed backupCk's
  *      `_staging` tree — previously only the next backupCk under
  *      the SAME tag swept it, so retiring the tag leaked it forever;
  *   3. tag hygiene holds at EVERY entry point, not just the
  *      take-side verbs — tags ride into table names and raw SQL;
  *   4. a family carrying band-cardinality AND plane-modulus
  *      violations in the same round converges through ONE combined
  *      heal entry (previously two entries with the same runner ran
  *      the O(index) bands rewrite twice back-to-back).
  */
class GroupAuditSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def famAll(t: String): Seq[String] =
    (t +: TextOps.BackupSiblings.map(t + _))
      .flatMap(m => Seq(m, s"${m}_bak_bak")) :+ s"${t}_bakok_bak"

  test("group extras: an out-of-band copy under the tag is flagged " +
      "by checkDocumentsBackup and refused by restoreDocuments") {
    val base = s"ga_doc_p$pid"
    val t = s"${base}_bm25"
    val all = famAll(t) ++
      Seq(s"${t}_docs", s"${base}_dbakok_bak", s"${base}_hashes_bak_bak",
        s"${base}_ledger", s"${base}_ledger_bak_bak",
        s"${base}_band_bak_bak")
    val ckCopy = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      s"${base}_ck_bak_bak".toLowerCase)
    val fs = ckCopy.getFileSystem(spark.sparkContext.hadoopConfiguration)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        Seq(1L -> "spark join window", 2L -> "hash scan merge")
          .toDF("doc_id", "text"), t)
      StreamingOps.backup(spark, IndexGroup.documents(base))
      assert(StreamingOps.checkBackup(spark,
        IndexGroup.documents(base)) === Nil)
      // out-of-band copy of a STATE table the group marker never
      // recorded (`_hashes` did not exist at take time): restore's
      // restoreTable sweep would resurrect it as the live hash store
      Seq(123L).toDF("content_hash")
        .write.saveAsTable(s"${base}_hashes_bak_bak")
      val v = StreamingOps.checkBackup(spark, IndexGroup.documents(base))
      assert(v.exists(m => m.contains("not in the group marker") &&
        m.contains(s"${base}_hashes_bak_bak")), v.toString)
      val e = intercept[IllegalArgumentException] {
        StreamingOps.restore(spark, IndexGroup.documents(base))
      }
      assert(e.getMessage.contains("integrity audit"), e.getMessage)
      drop(s"${base}_hashes_bak_bak")
      assert(StreamingOps.checkBackup(spark,
        IndexGroup.documents(base)) === Nil)
      assert(StreamingOps.restore(spark, IndexGroup.documents(base))
        .exists(_.startsWith("restored ")))

      // the group audit's other findings, one damage at a time, each
      // named by its entry and healed before the next
      val g = IndexGroup.documents(base)
      def names(entry: String, finding: String): Unit = {
        val v = StreamingOps.checkBackup(spark, g)
        assert(v.exists(m => m.contains(entry) && m.contains(finding)),
          v.toString)
      }
      // a recorded state-table copy dropped after commit
      Seq(1L).toDF("batch_id").write.saveAsTable(s"${base}_ledger")
      StreamingOps.backup(spark, g)
      assert(StreamingOps.checkBackup(spark, g) === Nil)
      drop(s"${base}_ledger_bak_bak")
      names(s"${base}_ledger_bak_bak",
        "recorded in the group marker but missing")
      StreamingOps.backup(spark, g)
      assert(StreamingOps.checkBackup(spark, g) === Nil)
      // an unrecorded checkpoint backup tree (the stream never ran)
      fs.mkdirs(ckCopy)
      names(ckCopy.getName, "not in the group marker")
      fs.delete(ckCopy, true)
      // a copy of a family the group marker does not record (the
      // band family did not exist at take time)
      Seq(1L).toDF("doc_id").write.saveAsTable(s"${base}_band_bak_bak")
      names(s"${base}_band_bak_bak", "not in the group marker")
      drop(s"${base}_band_bak_bak")
      // an out-of-band family re-take under the tag
      TextOps.appendBm25Postings(
        Seq(3L -> "late window join").toDF("doc_id", "text"), t)
      TextOps.backupIndex(spark, t)
      names(t, "family backup marker content changed")
      StreamingOps.backup(spark, g)
      assert(StreamingOps.checkBackup(spark, g) === Nil)
    } finally {
      if (fs.exists(ckCopy)) { fs.delete(ckCopy, true); () }
      drop(all: _*)
    }
  }

  test("dropping a stream backup tag sweeps a crashed backupCk " +
      "staging tree") {
    val base = s"ga_stg_p$pid"
    val t = s"${base}_bm25"
    val all = famAll(t) ++ Seq(s"${t}_docs", s"${base}_dbakok_bak")
    drop(all: _*)
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new org.apache.hadoop.fs.Path(wh,
      s"${base}_ck_bak_bak_staging")
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        Seq(1L -> "spark join window").toDF("doc_id", "text"), t)
      StreamingOps.backup(spark, IndexGroup.documents(base))
      // the crashed-backupCk residue: a staging tree under the tag
      fs.mkdirs(staging)
      StreamingOps.dropBackup(spark, IndexGroup.documents(base))
      assert(!fs.exists(staging),
        "dropDocumentsBackup left the crashed staging tree behind")
      assert(!spark.catalog.tableExists(s"${base}_dbakok_bak"))
    } finally {
      if (fs.exists(staging)) { fs.delete(staging, true); () }
      drop(all: _*)
    }
  }

  test("tag hygiene: non-alphanumeric tags refuse at every entry " +
      "point, not just the take-side") {
    val t = s"ga_tag_p$pid"
    def refuses(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains("alphanumeric"), e.getMessage)
    }
    refuses(TextOps.checkBackup(spark, t, "a b"))
    refuses(TextOps.dropBackup(spark, t, "x';--"))
    refuses(TextOps.restoreIndex(spark, t, "a_b"))
    refuses(TextOps.restoreSnapshot(spark, t, "a_b"))
    refuses(TextOps.dropSnapshot(spark, t, "a_b"))
    refuses(StreamingOps.backup(spark, IndexGroup.documents(t), "a_b"))
    refuses(StreamingOps.backup(spark, IndexGroup.vectors(t), "a_b"))
    refuses(StreamingOps.dropBackup(spark, IndexGroup.documents(t), "a_b"))
    refuses(StreamingOps.dropBackup(spark, IndexGroup.vectors(t), "a_b"))
    refuses(StreamingOps.checkBackup(spark, IndexGroup.documents(t), "a_b"))
    refuses(StreamingOps.checkBackup(spark, IndexGroup.vectors(t), "a_b"))
    refuses(StreamingOps.snapshot(spark, IndexGroup.documents(t), "a_b"))
    refuses(StreamingOps.restoreSnapshot(spark, IndexGroup.documents(t), "a_b"))
    refuses(TextOps.checkSnapshot(spark, t, "a_b"))
    refuses(TextOps.readSnapshot(spark, t, "a_b"))
    refuses(TextOps.snapshotDiff(spark, t, "a_b", "snap"))
    refuses(TextOps.snapshotDiff(spark, t, "snap", "a_b"))
    refuses(StreamingOps.checkSnapshot(spark, IndexGroup.documents(t), "a_b"))
    // the group drop refuses BEFORE it drops anything: a table that
    // happens to be named like the bad tag's stream manifest survives
    val sp = spark
    import sp.implicits._
    try {
      Seq(1).toDF("x").write.saveAsTable(s"${t}_mf_a_b")
      refuses(StreamingOps.dropSnapshot(spark, IndexGroup.documents(t), "a_b"))
      assert(spark.catalog.tableExists(s"${t}_mf_a_b"))
    } finally drop(s"${t}_mf_a_b")
  }

  test("ANN: simultaneous band-row and planemod violations converge " +
      "through the ONE combined rebuild heal") {
    val a = s"ga_ann_p$pid"
    val a2 = s"ga_ann_twin_p$pid"
    val all = Seq(a, s"${a}_vec", s"${a}_cfg", s"${a}_del",
      s"${a}_compact", s"${a}_old", a2, s"${a2}_vec", s"${a2}_cfg")
    drop(all: _*)
    try {
      val emb = Tables(spark, sf, "embeddings")
      AnnIndex.write(emb, a, nBands = 4, bits = 2)
      AnnIndex.write(emb, a2, nBands = 4, bits = 2)
      // violation 1: duplicate one band row (5 rows against cfg 4)
      val one = spark.table(a).limit(1).collect()
      spark.createDataFrame(
          spark.sparkContext.parallelize(one.toIndexedSeq),
          spark.table(a).schema)
        .write.mode("append")
        .bucketBy(8, "band_key").sortBy("band_key")
        .saveAsTable(a)
      // violation 2: fork the planemod pin away from the derived one
      val cfg = TextOps.readIndexConfig(spark, a).get
      TextOps.overwriteIndexConfig(spark, a,
        Seq("dim" -> cfg("dim"), "nbands" -> cfg("nbands"),
          "bits" -> cfg("bits"), "planemod" -> (cfg("planemod") + 1)))
      val v = AnnIndex.family(a).fsck(spark)
      assert(v.exists(_.contains("band rows")), v.toString)
      assert(v.exists(_.contains("planemod")), v.toString)
      val fixed = AnnIndex.family(a).repair(spark)
      // ONE combined entry heals both classes
      assert(fixed.count(_.contains("rebuilt band")) === 1,
        fixed.toString)
      assert(AnnIndex.family(a).fsck(spark) === Nil)
      def probe(t: String) =
        AnnIndex.topK(spark, t, c => c < 3, k = 4).collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
          .toMap
      val got = probe(a)
      assert(got === probe(a2))
      assert(got.nonEmpty)
    } finally drop(all: _*)
  }
}
