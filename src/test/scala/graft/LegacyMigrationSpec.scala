package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pre-r14 on-disk compatibility (ADVICE r14): families written before
  * the generation-barrier extension carry a GEN-LESS tombstone list
  * (id only) and, if a delete crashed mid-flight, a gen-less
  * `_del_stage` whose stats txn token was computed WITHOUT the
  * barrier. The read side always interpreted both as terminal; these
  * specs gate the WRITE side:
  *   - the first delete/upsert against a gen-less list migrates it
  *     once (every entry rewritten at TerminalGen) instead of failing
  *     on the extra column;
  *   - a pre-r14 crashed stage already applied to stats is recognized
  *     under the LEGACY token format on replay — no double-subtract.
  */
class LegacyMigrationSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  test("first write to a pre-r14 gen-less tombstone list migrates it " +
      "to terminal entries instead of failing") {
    val t = s"mig_band_p$pid"
    val all = Seq(t, s"${t}_del", s"${t}_del_mig", s"${t}_del_old")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val docs = Tables(spark, sf, "documents")
      TextOps.writeBandIndex(docs.filter(col("doc_id") < 100), t)
      // simulate the pre-r14 list: id column only, no gen
      Seq(5L).toDF("old_id").coalesce(1).write
        .saveAsTable(s"${t}_del")
      // pre-fix this append failed loudly on the extra gen column
      TextOps.bandFamily(t).delete(spark, Seq(7L).toDF("doc_id"))
      val del = spark.table(s"${t}_del")
      assert(del.columns.contains("gen"))
      // the migrated entry reads terminal — exactly the read-side
      // interpretation, now materialized
      assert(del.filter(col("old_id") === 5L).collect()
        .map(_.getLong(1)).toSeq === Seq(Long.MaxValue))
      val live = TextOps.liveBandIndex(spark, t)
      assert(live.filter(col("old_id").isin(5L, 7L)).isEmpty)
      assert(!live.filter(col("old_id") === 8L).isEmpty)
      // and the migrated-terminal id stays dead through an upsert
      // (terminal is terminal, pre-r14 entries included)
      TextOps.upsertBandDocs(spark, t,
        docs.filter(col("doc_id").isin(5L, 8L)))
      val live2 = TextOps.liveBandIndex(spark, t)
      assert(live2.filter(col("old_id") === 5L).isEmpty)
      assert(!live2.filter(col("old_id") === 8L).isEmpty)
    } finally drop(all: _*)
  }

  test("pre-r14 crashed delete stage already applied to stats is " +
      "recognized under the legacy txn token — no double-subtract") {
    val t = s"mig_bm25_p$pid"
    val all = Seq(t, s"${t}_stats", s"${t}_del", s"${t}_del_stage",
      s"${t}_del_mig", s"${t}_del_old")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val docs = Tables(spark, sf, "documents")
      TextOps.appendBm25Postings(docs.filter(col("doc_id") < 50), t,
        s"${t}_stats")
      val before = spark.table(s"${t}_stats")
        .select("n_docs", "sum_dl").collect()(0)
      // the victim's own dl, off its stored postings
      val dl3 = spark.table(t).filter(col("doc_id") === 3L)
        .select("dl").head().getLong(0)
      // simulate the pre-r14 crash state: a GEN-LESS stage whose
      // subtraction already landed in the stats row under the LEGACY
      // token format (md5 of the sorted ids, no barrier component)
      Seq((3L, dl3)).toDF("doc_id", "dl").coalesce(1).write
        .saveAsTable(s"${t}_del_stage")
      val legacyTxn = spark.sql("SELECT md5('3')").head().getString(0)
      Seq((before.getLong(0) - 1L, before.getLong(1) - dl3, legacyTxn))
        .toDF("n_docs", "sum_dl", "txn")
        .write.mode("overwrite").saveAsTable(s"${t}_stats")
      val applied = spark.table(s"${t}_stats")
        .select("n_docs", "sum_dl").collect()(0)
      // replay (any family entry point re-applies the stage): the
      // stats must NOT move again, the id must end tombstoned, and
      // the stage must be retired
      val (lp, ls) = TextOps.liveBm25(spark, t, s"${t}_stats")
      assert(lp.filter(col("doc_id") === 3L).isEmpty)
      assert(spark.table(s"${t}_stats")
        .select("n_docs", "sum_dl").collect()(0) === applied)
      assert(!spark.catalog.tableExists(s"${t}_del_stage"))
      assert(spark.table(s"${t}_del").filter(col("doc_id") === 3L)
        .collect().map(_.getLong(1)).toSeq === Seq(Long.MaxValue))
    } finally drop(all: _*)
  }
}
