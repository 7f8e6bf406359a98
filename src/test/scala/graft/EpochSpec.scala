package graft

import graft.operators.TextOps
import graft.operators.TextOps.FoldGuard
import graft.streaming.{IndexGroup, StreamingOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SERVING EPOCHS — repeatable reads over the stored families. An
  * epoch pins the family (or the whole unified group) under an
  * ephemeral O(metadata) manifest snapshot, serves any number of
  * as-of probes against ONE corpus state, and retires the tag on the
  * way out — even when writers land and maintenance folds run in
  * between (the FoldGuard.Anchor contract carried to serving). The
  * live path cannot give this: two live probes bracketing an atomic
  * swap or an upsert see two different indexes.
  */
class EpochSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def famAll(t: String): Seq[String] =
    (t +: TextOps.BackupSiblings.map(t + _)) ++
      Seq(s"${t}_compact", s"${t}_old", s"${t}_docs")

  test("withIndexEpoch: probes inside one epoch agree across a " +
      "concurrent upsert, delete AND an anchored fold; the tag " +
      "retires on exit") {
    val t = s"epo_bm25_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        (1L to 20L).map(i => i -> s"spark shuffle join token$i epoch")
          .toDF("doc_id", "text"), t)
      val qt = Seq((1, "spark"), (1, "shuffle"), (2, "token7"))
        .toDF("q_id", "token")
      def scores(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => ((r.getInt(0), r.getLong(1)),
          r.getDouble(2))).toMap
      var epochTag: String = null
      TextOps.withIndexEpoch(spark, t) { tag =>
        epochTag = tag
        val first = scores(TextOps.scoreBm25AsOf(spark, t, tag, qt))
        assert(first.nonEmpty)
        // concurrent writers land mid-epoch...
        TextOps.upsertBm25Docs(spark, t,
          Seq(7L -> "spark rewritten body", 21L -> "spark fresh doc")
            .toDF("doc_id", "text"))
        TextOps.deleteBm25Docs(spark, t,
          Seq(2L).toDF("doc_id"))
        // ...and maintenance folds under Anchor (the unattended mode)
        TextOps.compactIndex(spark, t, FoldGuard.Anchor)
        // the epoch's second read is IDENTICAL to its first
        assert(scores(TextOps.scoreBm25AsOf(spark, t, tag, qt))
          === first)
        // while the live index has genuinely moved
        val (lp, ls) = TextOps.liveBm25(spark, t, "")
        assert(scores(TextOps.bm25ScoreIncr(qt, lp, ls)) !== first)
      }
      // the ephemeral tag is fully retired: manifest gone, no anchors
      assert(!spark.catalog.tableExists(s"${t}_mf_$epochTag"))
      assert(TextOps.listSnapshots(spark, t)
        .forall(_._1 != epochTag))
      assert(TextOps.listAnchors(spark, t).isEmpty)
    } finally drop(all: _*)
  }

  test("withIndexEpoch retires the tag when the body throws") {
    val t = s"epo_exc_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        Seq(1L -> "alpha beta").toDF("doc_id", "text"), t)
      var tagSeen: String = null
      intercept[RuntimeException] {
        TextOps.withIndexEpoch(spark, t) { tag =>
          tagSeen = tag
          assert(spark.catalog.tableExists(s"${t}_mf_$tag"))
          throw new RuntimeException("probe failed")
        }
      }
      assert(!spark.catalog.tableExists(s"${t}_mf_$tagSeen"))
    } finally drop(all: _*)
  }

  test("withDocumentsEpoch: bm25 AND near-dup probes see one group " +
      "state across a concurrent member upsert; tags retire on exit") {
    val base = s"epo_doc_p$pid"
    val members = Seq(s"${base}_band", s"${base}_band_del",
      s"${base}_bm25", s"${base}_bm25_del", s"${base}_bm25_docs",
      s"${base}_hashes", s"${base}_ledger")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_epodoc").toString
    drop(members: _*)
    val ck = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      base.toLowerCase + "_ck")
    ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(ck, true)
    try {
      val sp = spark
      import sp.implicits._
      Tables(spark, sf, "documents").filter(col("doc_id") < 20)
        .write.mode("append").parquet(s"$dir/documents.parquet")
      StreamingOps.streamingDocumentIngest(spark, dir, base)
      val qt = Seq((1, "the"), (1, "of")).toDF("q_id", "token")
      val probe = Tables(spark, sf, "documents")
        .filter(col("doc_id") < 5).select("doc_id", "text")
      def bm(tag: String) = TextOps.scoreBm25AsOf(spark,
        s"${base}_bm25", tag, qt).collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2)).toMap
      def nd(tag: String) = TextOps.nearDupsAsOf(spark,
        s"${base}_band", tag, probe).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      var seen: String = null
      StreamingOps.withEpoch(spark, IndexGroup.documents(base)) { tag =>
        seen = tag
        val (b1, n1) = (bm(tag), nd(tag))
        assert(b1.nonEmpty && n1.nonEmpty)
        // a member-level writer lands mid-epoch (same doc rewritten —
        // would change BOTH families' live answers)
        TextOps.upsertBm25Docs(spark, s"${base}_bm25",
          Seq(1L -> "entirely new body of the document")
            .toDF("doc_id", "text"))
        TextOps.upsertBandDocs(spark, s"${base}_band",
          Seq(1L -> "entirely new body of the document")
            .toDF("doc_id", "text"))
        assert(bm(tag) === b1) // one corpus state, both families
        assert(nd(tag) === n1)
      }
      assert(!spark.catalog.tableExists(s"${base}_mf_$seen"))
      assert(!spark.catalog.tableExists(s"${base}_bm25_mf_$seen"))
      assert(!spark.catalog.tableExists(s"${base}_band_mf_$seen"))
    } finally {
      drop(members: _*)
      ck.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(ck, true)
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val paths =
        try {
          import scala.jdk.CollectionConverters._
          walk.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.toList
        } finally walk.close()
      paths.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }
}
