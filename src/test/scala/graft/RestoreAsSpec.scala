package graft

import graft.operators.TextOps
import org.scalatest.funsuite.AnyFunSuite

/** RESTORE-AS (r17): the drill / branch verb. checkBackup audits a
  * backup's metadata; `restoreIndexAs` proves the BYTES — it builds
  * a fresh family from the tag's committed marker (borrowed
  * differential bytes resolving from their base-tag copies) while
  * the live family and the backup stay untouched, and the scratch
  * family then SERVES like any family (bucketed probes, not the
  * as-of plain-scan path). The refusal legs are the verb's safety:
  * it never clobbers an existing family and never builds from an
  * uncommitted (marker-less) set.
  */
class RestoreAsSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def famAll(t: String): Seq[String] =
    (t +: TextOps.BackupSiblings.map(t + _)).flatMap(m =>
      Seq(m, s"${m}_bak_base", s"${m}_bak_d1")) ++
      Seq(s"${t}_bakok_base", s"${t}_bakok_d1")

  private def postings(t: String): Seq[(Long, String, Long)] =
    spark.table(t).selectExpr("doc_id", "token", "tf").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq.sorted

  test("drill: a differential chain restores into a scratch family " +
      "bit-exact; live family, backup, and target-name safety all " +
      "hold; the scratch family serves bucketed probes") {
    val t = s"ras_bm25_p$pid"
    val d = s"ras_drill_p$pid"
    val all = famAll(t) ++ famAll(d)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        (1L to 40L).map(i => i -> s"spark shuffle join token$i data")
          .toDF("doc_id", "text"), t)
      TextOps.backupIndex(spark, t, "base")
      TextOps.appendBm25Postings(
        (41L to 44L).map(i => i -> s"spark shuffle join token$i data")
          .toDF("doc_id", "text"), t)
      TextOps.backupIndex(spark, t, "d1", baseTag = Some("base"))
      val asOfD1 = postings(t)
      // live moves on past the backup — the drill must not see it
      TextOps.appendBm25Postings(
        Seq(45L -> "spark fresh post-backup doc")
          .toDF("doc_id", "text"), t)
      val liveNow = postings(t)

      val out = TextOps.restoreIndexAs(spark, t, "d1", d)
      assert(out.exists(_ == s"restored $d"), out.toString)
      assert(out.exists(_ == s"restored ${d}_docs"), out.toString)
      // bit-exact across the chain: d1's own copy holds only the
      // append window; the base tag's copy served the borrowed bytes
      assert(postings(d) === asOfD1,
        "drill family diverged from the backed-up state")
      // live family untouched by the drill...
      assert(postings(t) === liveNow)
      // ...and so is the backup (still audit-clean, still marker'd)
      assert(TextOps.checkBackup(spark, t, "d1") === Nil)
      assert(TextOps.checkBackup(spark, t, "base") === Nil)
      // the scratch family SERVES — the bucketed probe path, not the
      // as-of plain-scan path
      val qt = Seq((1, "spark")).toDF("q_id", "token")
      val (p, st) = TextOps.liveBm25(spark, d, "")
      assert(TextOps.bm25ScoreIncr(qt, p, st).collect().nonEmpty)

      // a drill never clobbers: the target family now exists
      val e1 = intercept[IllegalArgumentException] {
        TextOps.restoreIndexAs(spark, t, "base", d)
      }
      assert(e1.getMessage.contains("never clobbers"), e1.getMessage)
      // and never builds from an uncommitted set
      val e2 = intercept[IllegalArgumentException] {
        TextOps.restoreIndexAs(spark, t, "nosuch", d + "x")
      }
      assert(e2.getMessage.contains("no committed backup"),
        e2.getMessage)
      // nor converges in place by accident
      intercept[IllegalArgumentException] {
        TextOps.restoreIndexAs(spark, t, "d1", t)
      }
    } finally drop(all: _*)
  }

  test("group drill: restoreDocumentsAs builds scratch member " +
      "families from the committed group backup; ingest state never " +
      "rides along; uncommitted groups refuse") {
    val base = s"ras_doc_p$pid"
    val dr = s"ras_docdr_p$pid"
    val fams = Seq("_band", "_bm25")
    val all = (fams.map(base + _) ++ fams.map(dr + _)).flatMap(f =>
      (f +: TextOps.BackupSiblings.map(f + _)).flatMap(m =>
        Seq(m, s"${m}_bak_b0")) ++ Seq(s"${f}_bakok_b0")) ++
      Seq(s"${base}_dbakok_b0", s"${base}_bm25_docs",
        s"${dr}_bm25_docs", s"${base}_hashes", s"${dr}_hashes")
    drop(all.distinct: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        (1L to 30L).map(i => i -> s"spark shuffle join token$i data")
          .toDF("doc_id", "text"), s"${base}_bm25")
      TextOps.writeBandIndex(
        (1L to 30L).map(i => (i, s"spark shuffle join token$i data"))
          .toDF("doc_id", "text"), s"${base}_band")
      streaming.StreamingOps.backup(spark,
        streaming.IndexGroup.documents(base), "b0")
      val bmAt = postings(s"${base}_bm25")
      val bandAt = spark.table(s"${base}_band")
        .selectExpr("band_key", "old_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      // live moves past the group backup
      TextOps.appendBm25Postings(
        Seq(31L -> "spark fresh post-backup doc")
          .toDF("doc_id", "text"), s"${base}_bm25")

      val out = streaming.StreamingOps.restoreAs(spark,
        streaming.IndexGroup.documents(base), "b0", dr)
      assert(out.contains(s"restored ${dr}_bm25") &&
        out.contains(s"restored ${dr}_band"), out.toString)
      assert(postings(s"${dr}_bm25") === bmAt)
      assert(spark.table(s"${dr}_band")
        .selectExpr("band_key", "old_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted ===
        bandAt)
      // serving side only: no ingest state at the branch base
      assert(!spark.catalog.tableExists(s"${dr}_hashes"))
      // the live group is past the backup, untouched by the drill
      assert(postings(s"${base}_bm25").size > bmAt.size)
      // uncommitted groups refuse
      val e = intercept[IllegalArgumentException] {
        streaming.StreamingOps.restoreAs(spark,
          streaming.IndexGroup.documents(base),
          "nosuch", dr + "x")
      }
      assert(e.getMessage.contains("no committed group backup"),
        e.getMessage)
    } finally drop(all.distinct: _*)
  }
}
