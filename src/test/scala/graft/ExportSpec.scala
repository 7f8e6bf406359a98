package graft

import graft.operators.{AnnIndex, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** EXPORT/IMPORT (r15) — the MIGRATE verb: a family moves to another
  * warehouse (or gets cloned under a new name) as a file copy + a
  * schema/bucket-spec manifest, never a rebuild. Contracts:
  *   - probe parity: the imported family scores bit-identically;
  *   - bucket parity: the imported members carry the ORIGINAL bucket
  *     spec (re-bucketed through the maintenance-write discipline),
  *     so probe plans stay Exchange-free;
  *   - holds TRAVEL (unlike backups, which leave them outside):
  *     a migrated family keeps refusing held content;
  *   - refusals: non-empty destination, existing target members.
  */
class ExportSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def fam(t: String): Seq[String] =
    (t +: TextOps.ExportSiblings.map(t + _))

  test("bm25: export -> import under a NEW name; score/stats parity, " +
      "bucket parity, tombstones and holds travel, fsck clean") {
    val src = s"exp_bm25_p$pid"
    val dst = s"imp_bm25_p$pid"
    val all = fam(src) ++ fam(dst)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_export").toString + "/fam"
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        Seq(1L -> "spark join window", 2L -> "hash scan merge",
          3L -> "window fast data").toDF("doc_id", "text"), src)
      TextOps.deleteBm25Docs(spark, src,
        Seq(2L).toDF("doc_id"))
      TextOps.bm25Family(src).hold(spark, Seq(7L).toDF("doc_id"))
      val qt = Seq((1, "window"), (1, "spark"), (2, "data"))
        .toDF("q_id", "token")
      def scores(t: String): Map[(Int, Long), Double] = {
        val (p, st) = TextOps.liveBm25(spark, t, "")
        TextOps.bm25ScoreIncr(qt, p, st).collect()
          .map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2))).toMap
      }
      val want = scores(src)
      assert(want.nonEmpty)

      TextOps.exportIndex(spark, src, dir)
      val did = TextOps.importIndex(spark, dir, dst)
      assert(did.exists(_.startsWith(s"imported $dst ")), did.toString)

      assert(scores(dst) === want, "imported family scores differently")
      import org.apache.spark.sql.catalyst.TableIdentifier
      def spec(x: String) = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(x)).bucketSpec
      assert(spec(dst).isDefined && spec(dst) === spec(src),
        "bucket spec did not survive the migration")
      // and the bucketing is USED, not just declared: a self-join of
      // the imported postings on the bucket column plans with zero
      // Exchange on either side (the zero-shuffle import's file-name
      // bucket ids are what the scan reads — a misregistered table
      // would shuffle). Broadcast off in a cloned session: on this
      // tiny fixture the planner would otherwise broadcast and skip
      // the bucketed read entirely
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = s2.table(dst).as("a")
        .join(s2.table(dst).as("b"), "token")
        .queryExecution.executedPlan.toString
      assert(!j.contains("Exchange"),
        s"imported bucketing not used by the scan:\n$j")
      assert(j.contains("Bucketed: true"), j)
      // the hold travelled: held content stays out of the NEW family
      TextOps.appendBm25Postings(
        Seq(7L -> "held content arriving").toDF("doc_id", "text"), dst)
      val (p, _) = TextOps.liveBm25(spark, dst, "")
      assert(p.filter(col("doc_id") === 7L).isEmpty,
        "a migrated family ingested held content")
      // the tombstone travelled too: doc 2 stays dead
      assert(p.filter(col("doc_id") === 2L).isEmpty)
      assert(TextOps.bm25Family(dst).fsck(spark).isEmpty,
        "imported family fails its own audit")
    } finally drop(all: _*)
  }

  test("ann: vector family migrates with probe parity") {
    val src = s"exp_ann_p$pid"
    val dst = s"imp_ann_p$pid"
    val all = fam(src) ++ fam(dst)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_exporta").toString + "/fam"
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val dim = 16
      val emb = (0 until 30).map { i =>
        (i.toLong, (0 until dim).map(j =>
          (((i * 7 + j * 3) % 13) + 1).toDouble))
      }.toDF("vec_id", "embedding")
      AnnIndex.write(emb, src, dim = dim)
      def probe(t: String) = AnnIndex.topK(spark, t, _ < 5, k = 3)
        .collect().map(_.toString).sorted.toSeq
      val want = probe(src)
      TextOps.exportIndex(spark, src, dir)
      TextOps.importIndex(spark, dir, dst)
      assert(probe(dst) === want, "migrated ANN family probes differently")
      assert(AnnIndex.family(dst).fsck(spark).isEmpty)
    } finally drop(all: _*)
  }

  test("refusals: non-empty destination, existing target, missing " +
      "family — each loud, nothing mutated") {
    val src = s"exp_ref_p$pid"
    val all = fam(src)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_exportr").toString
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      intercept[IllegalArgumentException] {
        TextOps.exportIndex(spark, src, s"$dir/fam")
      }
      TextOps.appendBm25Postings(
        Seq(1L -> "spark join window").toDF("doc_id", "text"), src)
      TextOps.exportIndex(spark, src, s"$dir/fam")
      val e = intercept[IllegalArgumentException] {
        TextOps.exportIndex(spark, src, s"$dir/fam")
      }
      assert(e.getMessage.contains("not empty"), e.getMessage)
      // import onto the LIVE source family name refuses — it exists
      val e2 = intercept[IllegalArgumentException] {
        TextOps.importIndex(spark, s"$dir/fam", src)
      }
      assert(e2.getMessage.contains("never overwrites"), e2.getMessage)
      assert(spark.table(src).count() > 0,
        "a refused import mutated the live family")
    } finally drop(all: _*)
  }
}
