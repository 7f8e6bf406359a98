package graft

import graft.operators.{AnnIndex, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BACKUP/RESTORE (r15) — the way OUT when repair() refuses: fsck
  * names corruption classes with no safe in-place heal (lost config
  * pins, wrong-width stored rows, a missing payload member) and
  * repair refuses them loudly; a point-in-time snapshot is the
  * documented recovery for exactly those. The contract under test:
  *   - restore converges the family to EXACTLY the snapshot state
  *     (probe parity, stats parity, members absent at snapshot
  *     dropped), repeatably (copies, not renames — a crash mid-restore
  *     converges by re-running);
  *   - bucketing survives the round-trip (the copy re-buckets), so
  *     restored families keep their zero-Exchange probe plans;
  *   - the legal-hold registry is OUTSIDE the snapshot: holds placed
  *     after the backup stay in force across a restore (append-only
  *     forever beats point-in-time);
  *   - a restore without its snapshot refuses before touching
  *     anything.
  */
class BackupSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def famAll(t: String): Seq[String] =
    (t +: TextOps.BackupSiblings.map(t + _)) ++ Seq(s"${t}_hold") ++
      (t +: TextOps.BackupSiblings.map(t + _)).map(_ + "_bak_bak")

  test("bm25: backup -> mutate heavily -> restore returns the exact " +
      "snapshot (scores, stats, fsck-clean); restore is repeatable") {
    val t = s"bak_bm25_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
      TextOps.appendBm25Postings(
        docs(1L -> "spark join window", 2L -> "hash scan merge",
          3L -> "window fast data"), t, s"${t}_stats")
      val qt = Seq((1, "window"), (1, "spark"), (2, "data"),
        (2, "hash")).toDF("q_id", "token")
      def scores(): Map[(Int, Long), Double] = {
        val (p, st) = TextOps.liveBm25(spark, t, s"${t}_stats")
        TextOps.bm25ScoreIncr(qt, p, st).collect()
          .map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2))).toMap
      }
      val snap = scores()
      assert(snap.nonEmpty)
      val writtenTo = TextOps.backupIndex(spark, t)
      assert(writtenTo.contains(s"${t}_bak_bak") &&
        writtenTo.contains(s"${t}_stats_bak_bak"))
      // heavy mutation AFTER the snapshot: delete, upsert, append,
      // vacuum — every lifecycle verb
      TextOps.deleteBm25Docs(spark, t, s"${t}_stats",
        Seq(2L).toDF("doc_id"))
      TextOps.upsertBm25Docs(spark, t, s"${t}_stats",
        docs(1L -> "totally different content now"))
      TextOps.appendBm25Postings(docs(9L -> "brand new doc"), t,
        s"${t}_stats")
      TextOps.vacuumIndex(spark, s"${t}_del", Seq(t), "doc_id")
      assert(scores() !== snap, "mutations must actually change probes")
      val did = TextOps.restoreIndex(spark, t)
      assert(did.exists(_.startsWith("restored ")), did.toString)
      assert(scores() === snap, "restore did not return the snapshot")
      assert(TextOps.bm25Family(t).fsck(spark).isEmpty,
        "restored family fails its own audit")
      // the backup is kept; a second restore converges identically
      // (the crash-mid-restore story: just re-run)
      TextOps.upsertBm25Docs(spark, t, s"${t}_stats",
        docs(3L -> "half-applied garbage"))
      TextOps.restoreIndex(spark, t)
      assert(scores() === snap)
    } finally drop(all: _*)
  }

  test("bm25: members absent at snapshot are dropped by restore; " +
      "bucketing survives the round-trip") {
    val t = s"bak_drop_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        Seq(1L -> "spark join window", 2L -> "hash scan merge")
          .toDF("doc_id", "text"), t, s"${t}_stats")
      assert(!spark.catalog.tableExists(s"${t}_del"))
      TextOps.backupIndex(spark, t)
      // a delete AFTER the snapshot creates the tombstone list
      TextOps.deleteBm25Docs(spark, t, s"${t}_stats",
        Seq(2L).toDF("doc_id"))
      assert(spark.catalog.tableExists(s"${t}_del"))
      val did = TextOps.restoreIndex(spark, t)
      assert(did.contains(s"dropped ${t}_del (absent at snapshot)"),
        did.toString)
      assert(!spark.catalog.tableExists(s"${t}_del"),
        "restore resurrected a post-snapshot tombstone list")
      // bucketing parity: the restored postings keep the bucketed
      // definition, so probe plans stay Exchange-free on the index side
      import org.apache.spark.sql.catalyst.TableIdentifier
      def buckets(x: String) = spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(x)).bucketSpec
      assert(buckets(t).isDefined)
      assert(buckets(t) === buckets(s"${t}_bak_bak"))
    } finally drop(all: _*)
  }

  test("ann: vector family round-trips through backup/restore with " +
      "probe parity and a clean fsck") {
    val t = s"bak_ann_p$pid"
    val all = famAll(t) ++
      Seq(s"${t}_vec_bak_bak", s"${t}_cfg_bak_bak", s"${t}_del_bak_bak")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val dim = 16
      val emb = (0 until 30).map { i =>
        (i.toLong, (0 until dim).map(j =>
          (((i * 7 + j * 3) % 13) + 1).toDouble))
      }.toDF("vec_id", "embedding")
      AnnIndex.write(emb, t, dim = dim)
      def probe(): Map[(Long, Long), Double] =
        AnnIndex.topK(spark, t, _ < 5, k = 3)
          .collect().map(r => ((r.getLong(0), r.getLong(1)),
            r.getDouble(2))).toMap
      val snap = probe()
      assert(snap.nonEmpty)
      TextOps.backupIndex(spark, t)
      AnnIndex.family(t).delete(spark, Seq(7L).toDF("vec_id"))
      AnnIndex.upsert(emb.filter(col("vec_id") === 3L)
        .withColumn("embedding",
          expr("transform(embedding, x -> x + 5.0d)")), t, dim = dim)
      AnnIndex.family(t).vacuum(spark)
      assert(probe() !== snap)
      TextOps.restoreIndex(spark, t)
      assert(probe() === snap, "restored ANN family probes differently")
      assert(AnnIndex.family(t).fsck(spark).isEmpty)
    } finally drop(all: _*)
  }

  test("holds are OUTSIDE the snapshot: a hold placed after backup " +
      "stays in force across restore") {
    val t = s"bak_legal_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        Seq(1L -> "spark join window").toDF("doc_id", "text"),
        t, s"${t}_stats")
      val written = TextOps.backupIndex(spark, t)
      assert(!written.exists(_.contains("_hold")),
        "backup must not copy the hold registry")
      // the hold arrives AFTER the snapshot — legal obligations don't
      // time-travel
      TextOps.bm25Family(t).hold(spark, Seq(5L).toDF("doc_id"))
      TextOps.restoreIndex(spark, t)
      assert(spark.catalog.tableExists(s"${t}_hold"),
        "restore rolled back the hold registry")
      TextOps.appendBm25Postings(
        Seq(5L -> "held content arriving").toDF("doc_id", "text"),
        t, s"${t}_stats")
      val (p, _) = TextOps.liveBm25(spark, t, s"${t}_stats")
      assert(p.filter(col("doc_id") === 5L).isEmpty,
        "post-restore ingest stored a held id")
    } finally drop(all: _*)
  }

  test("re-taking a backup under the same tag records member absence: " +
      "the stale copy is cleared, restore does not resurrect it") {
    val t = s"bak_stale_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        Seq(1L -> "spark join window", 2L -> "hash scan merge")
          .toDF("doc_id", "text"), t, s"${t}_stats")
      TextOps.deleteBm25Docs(spark, t, s"${t}_stats",
        Seq(2L).toDF("doc_id"))
      assert(spark.catalog.tableExists(s"${t}_del"))
      TextOps.backupIndex(spark, t)
      assert(spark.catalog.tableExists(s"${t}_del_bak_bak"))
      // the member retires between snapshots (a vacuum cadence that
      // drops an empty list, an operator cleanup — the mechanism
      // doesn't matter, the re-taken snapshot must record absence)
      spark.sql(s"DROP TABLE ${t}_del")
      TextOps.backupIndex(spark, t)
      assert(!spark.catalog.tableExists(s"${t}_del_bak_bak"),
        "re-taken backup kept a stale copy of a retired member")
      TextOps.restoreIndex(spark, t)
      assert(!spark.catalog.tableExists(s"${t}_del"),
        "restore resurrected a member absent at the re-taken snapshot")
    } finally drop(all: _*)
  }

  test("restore without a snapshot refuses before touching anything; " +
      "backup requires the base table; dropBackup clears the set") {
    val t = s"bak_refuse_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val e1 = intercept[IllegalArgumentException] {
        TextOps.restoreIndex(spark, t)
      }
      assert(e1.getMessage.contains("no backup"))
      val e2 = intercept[IllegalArgumentException] {
        TextOps.backupIndex(spark, t)
      }
      assert(e2.getMessage.contains("no family base table"))
      intercept[IllegalArgumentException] {
        TextOps.backupIndex(spark, t, tag = "../evil")
      }
      // a live family with NO backup must survive the refused restore
      TextOps.appendBm25Postings(
        Seq(1L -> "spark join window").toDF("doc_id", "text"),
        t, s"${t}_stats")
      intercept[IllegalArgumentException] {
        TextOps.restoreIndex(spark, t)
      }
      assert(spark.catalog.tableExists(t) &&
        spark.catalog.tableExists(s"${t}_stats"))
      TextOps.backupIndex(spark, t)
      assert(spark.catalog.tableExists(s"${t}_bak_bak"))
      TextOps.dropBackup(spark, t)
      assert(!spark.catalog.tableExists(s"${t}_bak_bak") &&
        !spark.catalog.tableExists(s"${t}_stats_bak_bak"))
    } finally drop(all: _*)
  }
}
