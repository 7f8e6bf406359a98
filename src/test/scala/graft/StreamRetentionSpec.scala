package graft

import graft.operators.{AnnIndex, TextOps}
import graft.operators.TextOps.Retention
import graft.streaming.{IndexGroup, StreamingOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** STREAM-LEVEL RETENTION (r16): the unified backup/snapshot verbs
  * had no list/drop/prune twins — on the documented tight snapshot
  * cadence every tag accumulated its group marker, member manifests,
  * meta copies, ledger copies and checkpoint backup trees FOREVER.
  * Gated here: listing shows committed tags newest-first, dropping a
  * tag removes every artifact it owns (marker first — a half-dropped
  * group already refuses to restore), pruning keeps the newest N,
  * and the surviving tag still restores.
  */
class StreamRetentionSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def docArtifacts(base: String): Seq[String] = {
    val t = s"${base}_bm25"
    Seq(t, s"${t}_docs", s"${t}_del") ++
      Seq("s1", "s2", "t1", "t2").flatMap { tag =>
        Seq(s"${base}_mf_$tag", s"${t}_mf_$tag",
          s"${base}_dbakok_$tag", s"${t}_bakok_$tag") ++
          (t +: TextOps.BackupSiblings.map(t + _)).flatMap(m =>
            Seq(s"${m}_bak_$tag", s"${m}_bak_mf$tag"))
      }
  }

  test("documents: snapshots list newest-first, prune keeps the " +
      "newest, the survivor still restores") {
    val base = s"srt_doc_p$pid"
    val t = s"${base}_bm25"
    drop(docArtifacts(base): _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        Seq(1L -> "spark join window", 2L -> "hash scan merge")
          .toDF("doc_id", "text"), t)
      StreamingOps.snapshot(spark, IndexGroup.documents(base), "s1")
      Thread.sleep(1200L) // mtime ordering granularity
      TextOps.appendBm25Postings(
        Seq(3L -> "window fast data").toDF("doc_id", "text"), t)
      StreamingOps.snapshot(spark, IndexGroup.documents(base), "s2")
      val tags = StreamingOps.listSnapshots(spark, IndexGroup.documents(base))
        .map(_._1)
      assert(tags === Seq("s2", "s1"), tags.toString)
      val pruned = StreamingOps
        .pruneSnapshots(spark, IndexGroup.documents(base),
          Retention.KeepNewest(1))
      assert(pruned === Seq("dropped snapshot s1"), pruned.toString)
      assert(!spark.catalog.tableExists(s"${base}_mf_s1"))
      assert(!spark.catalog.tableExists(s"${t}_mf_s1"))
      assert(StreamingOps.listSnapshots(spark, IndexGroup.documents(base))
        .map(_._1) === Seq("s2"))
      // the survivor still restores (and restores the s2 content)
      TextOps.appendBm25Postings(
        Seq(9L -> "post snapshot junk").toDF("doc_id", "text"), t)
      StreamingOps.restoreSnapshot(spark, IndexGroup.documents(base), "s2")
      assert(TextOps.liveBm25(spark, t, "")._2
        .select("n_docs").head().getLong(0) === 3L)
    } finally drop(docArtifacts(base): _*)
  }

  test("documents: committed backup tags list; dropping one removes " +
      "marker + copies; the other still restores") {
    val base = s"srt_bak_p$pid"
    val t = s"${base}_bm25"
    drop(docArtifacts(base): _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        Seq(1L -> "spark join window").toDF("doc_id", "text"), t)
      StreamingOps.backup(spark, IndexGroup.documents(base), "t1")
      TextOps.appendBm25Postings(
        Seq(2L -> "hash scan merge").toDF("doc_id", "text"), t)
      StreamingOps.backup(spark, IndexGroup.documents(base), "t2")
      assert(StreamingOps.listBackups(spark, IndexGroup.documents(base))
        === Seq("t1", "t2"))
      StreamingOps.dropBackup(spark, IndexGroup.documents(base), "t1")
      assert(StreamingOps.listBackups(spark, IndexGroup.documents(base))
        === Seq("t2"))
      assert(!spark.catalog.tableExists(s"${base}_dbakok_t1"))
      assert(!spark.catalog.tableExists(s"${t}_bak_t1"))
      assert(!spark.catalog.tableExists(s"${t}_docs_bak_t1"))
      StreamingOps.restore(spark, IndexGroup.documents(base), "t2")
      assert(TextOps.liveBm25(spark, t, "")._2
        .select("n_docs").head().getLong(0) === 2L)
    } finally drop(docArtifacts(base): _*)
  }

  test("vectors: backup tags list and drop cleanly") {
    val base = s"srt_vec_p$pid"
    val t = s"${base}_ann"
    val dr = s"srt_vecdr_p$pid"
    val all = Seq(t, s"${t}_vec", s"${t}_cfg", s"${t}_del") ++
      (t +: TextOps.BackupSiblings.map(t + _))
        .map(m => s"${m}_bak_t1") ++
      Seq(s"${base}_vbakok_t1", s"${t}_bakok_t1") ++
      Seq("t1", "t2", "s1", "s2", "s3").flatMap(tag =>
        Seq(s"${base}_mf_$tag", s"${t}_mf_$tag",
          s"${base}_vbakok_$tag", s"${t}_bakok_$tag") ++
          (t +: TextOps.BackupSiblings.map(t + _)).flatMap(m =>
            Seq(s"${m}_bak_$tag", s"${m}_bak_mf$tag"))) ++
      (s"${dr}_ann" +: TextOps.BackupSiblings.map(s"${dr}_ann" + _))
    drop(all: _*)
    try {
      AnnIndex.write(Tables(spark, sf, "embeddings"), t,
        nBands = 4, bits = 2)
      StreamingOps.backup(spark, IndexGroup.vectors(base), "t1")
      assert(StreamingOps.listBackups(spark, IndexGroup.vectors(base))
        === Seq("t1"))
      assert(StreamingOps.checkBackup(spark, IndexGroup.vectors(base), "t1")
        === Nil)
      StreamingOps.dropBackup(spark, IndexGroup.vectors(base), "t1")
      assert(StreamingOps.listBackups(spark, IndexGroup.vectors(base)) === Nil)
      assert(!spark.catalog.tableExists(s"${t}_bak_t1") &&
        !spark.catalog.tableExists(s"${t}_vec_bak_t1") &&
        !spark.catalog.tableExists(s"${base}_vbakok_t1"))

      // the rest of the group lifecycle, on the same one-member group
      val g = IndexGroup.vectors(base)
      val sp = spark
      import sp.implicits._
      // snapshots: newest-first listing, audit, prune by count and by
      // age, explicit drop
      StreamingOps.snapshot(spark, g, "s1")
      Thread.sleep(1200L) // mtime ordering granularity
      StreamingOps.snapshot(spark, g, "s2")
      assert(StreamingOps.listSnapshots(spark, g).map(_._1) ===
        Seq("s2", "s1"))
      assert(StreamingOps.checkSnapshot(spark, g, "s2") === Nil)
      assert(StreamingOps.pruneSnapshots(spark, g, Retention.KeepNewest(1)) ===
        Seq("dropped snapshot s1"))
      assert(!spark.catalog.tableExists(s"${base}_mf_s1") &&
        !spark.catalog.tableExists(s"${t}_mf_s1"))
      val s2At = StreamingOps.listSnapshots(spark, g).head._2
      assert(StreamingOps.pruneSnapshots(spark, g,
        Retention.OlderThan(600000L, nowMs = s2At + 1000L)) === Nil)
      assert(StreamingOps.pruneSnapshots(spark, g,
        Retention.OlderThan(0L, nowMs = s2At + 1000L)) ===
        Seq("dropped snapshot s2"))
      StreamingOps.snapshot(spark, g, "s3")
      StreamingOps.dropSnapshot(spark, g, "s3")
      assert(StreamingOps.listSnapshots(spark, g) === Nil)
      assert(!spark.catalog.tableExists(s"${base}_mf_s3") &&
        !spark.catalog.tableExists(s"${t}_mf_s3"))

      // epoch: one group snapshot pins the member for the body and
      // retires on the way out
      val (epoch, rowsAt) = StreamingOps.withEpoch(spark, g) { tag =>
        assert(StreamingOps.listSnapshots(spark, g).map(_._1) ===
          Seq(tag))
        (tag, spark.table(s"${t}_vec").count())
      }
      assert(rowsAt === spark.table(s"${t}_vec").count())
      assert(StreamingOps.listSnapshots(spark, g) === Nil &&
        !spark.catalog.tableExists(s"${t}_mf_$epoch"))

      // backups: a differential take holds its base through the
      // keep-newest prune until it is promoted
      StreamingOps.backup(spark, g, "t1")
      Thread.sleep(1200L)
      StreamingOps.backup(spark, g, "t2", baseTag = Some("t1"))
      assert(StreamingOps.listBackupsWithAge(spark, g).map(_._1) ===
        Seq("t2", "t1"))
      assert(StreamingOps.pruneBackups(spark, g, Retention.KeepNewest(1)) ===
        Seq("kept backup t1: differential base of live tag(s) t2"))
      StreamingOps.promote(spark, g, "t2")
      assert(StreamingOps.checkBackup(spark, g, "t2") === Nil)
      assert(StreamingOps.pruneBackups(spark, g, Retention.KeepNewest(1)) ===
        Seq("dropped backup t1"))
      assert(StreamingOps.listBackups(spark, g) === Seq("t2"))
      // drill the committed group into a second base
      val out = StreamingOps.restoreAs(spark, g, "t2", dr)
      assert(out.contains(s"restored ${dr}_ann"), out.toString)
      assert(spark.table(s"${dr}_ann_vec").count() ===
        spark.table(s"${t}_vec").count())
      // the gauge sees the member's live and backup bytes and the
      // one committed group marker
      val bd = StreamingOps.storageBreakdown(spark, g)
      val comps = bd.select("component").as[String].collect().toSet
      assert(Set("live", "backup", "group-meta").subsetOf(comps),
        comps.toString)
      assert(bd.where(col("component") === "group-meta")
        .select("member").as[String].collect().toSeq ===
        Seq(s"${base}_vbakok_t2"))
      val t2At = StreamingOps.listBackupsWithAge(spark, g).head._2
      assert(StreamingOps.pruneBackups(spark, g,
        Retention.OlderThan(0L, nowMs = t2At + 1000L)) ===
        Seq("dropped backup t2"))
      assert(StreamingOps.listBackups(spark, g) === Nil)

      // delete + vacuum, with the cadence check naming the fold
      val victim = spark.table(s"${t}_vec").select("vec_id").as[Long]
        .head()
      StreamingOps.delete(spark, g, Seq(victim).toDF("vec_id"))
      assert(StreamingOps.describe(spark, g)(t).delRows === 1L)
      val eager = TextOps.MaintenancePolicy(delRowsMax = 0L)
      assert(StreamingOps.due(spark, g, eager).contains(s"$t: vacuum"))
      StreamingOps.vacuum(spark, g)
      assert(spark.table(s"${t}_vec")
        .where(col("vec_id") === victim).count() === 0L)
      assert(!StreamingOps.due(spark, g, eager).contains(s"$t: vacuum"))
    } finally drop(all: _*)
  }
}
