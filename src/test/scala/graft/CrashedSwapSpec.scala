package graft

import graft.operators.{AnnIndex, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CRASHED-SWAP VISIBILITY (r16): a maintenance swap that dies
  * between renames leaves the member UNBOUND with its content
  * stranded in `_compact`/`_old` — a state every probe fails on, yet
  * fsck's family-does-not-exist early return read as HEALTHY and
  * repair had nothing to heal; recovery only happened as a side
  * effect of the NEXT maintenance write. Now fsck returns the
  * crashed-swap evidence ALONE (content audits against a
  * half-swapped family are meaningless), repair maps it to the
  * existing recoverGroupSwap/recoverSwap heals, and repair
  * iterates to convergence so the violations the crash MASKED (the
  * stats drift it also caused) heal in the same call.
  */
class CrashedSwapSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    val sp = spark
    import sp.implicits._
    rows.toDF("doc_id", "text")
  }

  private def bm25All(t: String): Seq[String] =
    Seq(t, s"${t}_docs", s"${t}_del", s"${t}_compact", s"${t}_old",
      s"${t}_swap", s"${t}_del_compact", s"${t}_del_old")

  private def freshBm25(t: String): Unit =
    TextOps.appendBm25Postings(docsDf(Seq(
      1L -> "spark join window", 2L -> "hash scan merge",
      3L -> "window fast data")), t)

  test("mid-swap crash (member unbound, backup out): fsck names it, " +
      "one repair() re-binds and the probes return") {
    val t = s"cs_bind_p$pid"
    drop(bm25All(t): _*)
    try {
      freshBm25(t)
      val rows = spark.table(t).count()
      spark.sql(s"ALTER TABLE $t RENAME TO ${t}_old")
      // the family is dark: fsck must NOT read this as healthy
      val v = TextOps.bm25Family(t).fsck(spark)
      assert(v.exists(_.startsWith(s"crashed swap: $t unbound")),
        v.toString)
      val fixed = TextOps.bm25Family(t).repair(spark)
      assert(fixed.contains("recovered crashed swap renames"),
        fixed.toString)
      assert(TextOps.bm25Family(t).fsck(spark) === Nil)
      assert(spark.table(t).count() === rows)
      assert(!spark.catalog.tableExists(s"${t}_old"))
      assert(TextOps.bm25Family(t).repair(spark) === Nil)
    } finally drop(bm25All(t): _*)
  }

  test("mid-swap crash with the replacement fully staged: repair " +
      "promotes the REPLACEMENT copy, not the backup") {
    val t = s"cs_tmp_p$pid"
    drop(bm25All(t): _*)
    try {
      freshBm25(t)
      // stage the replacement exactly as rewriteBucketed does (here:
      // the postings without doc 3 — observably different content),
      // then crash after phase 1 (member renamed out)
      spark.sql(s"CREATE TABLE ${t}_compact LIKE $t")
      spark.sql(s"INSERT INTO ${t}_compact SELECT * FROM $t " +
        "WHERE doc_id <> 3")
      val tmpRows = spark.table(s"${t}_compact").count()
      spark.sql(s"ALTER TABLE $t RENAME TO ${t}_old")
      val v = TextOps.bm25Family(t).fsck(spark)
      assert(v.exists(_.contains(s"content survives in ${t}_compact")),
        v.toString)
      // the `_docs` rows now describe the OLD content — the crash
      // MASKED a stats drift; the convergence loop heals both in ONE
      // call
      val fixed = TextOps.bm25Family(t).repair(spark)
      assert(fixed.contains("recovered crashed swap renames") &&
        fixed.exists(_.contains("stats")), fixed.toString)
      assert(TextOps.bm25Family(t).fsck(spark) === Nil)
      assert(spark.table(t).count() === tmpRows)
      assert(!spark.catalog.tableExists(s"${t}_compact"))
      assert(!spark.catalog.tableExists(s"${t}_old"))
    } finally drop(bm25All(t): _*)
  }

  test("leftover _old backup (crash before cleanup) and a pinned " +
      "group-swap marker are each named and healed") {
    val t = s"cs_old_p$pid"
    drop(bm25All(t): _*)
    try {
      freshBm25(t)
      spark.sql(s"CREATE TABLE ${t}_old LIKE $t")
      spark.sql(s"INSERT INTO ${t}_old SELECT * FROM $t")
      val v = TextOps.bm25Family(t).fsck(spark)
      assert(v.exists(_.contains(s"leftover backup ${t}_old")),
        v.toString)
      assert(TextOps.bm25Family(t).repair(spark)
        .contains("recovered crashed swap renames"))
      assert(!spark.catalog.tableExists(s"${t}_old"))
      assert(TextOps.bm25Family(t).fsck(spark) === Nil)

      // a group-swap intent marker pinned with its replacement staged:
      // repair replays the promotion forward (recoverGroupSwap)
      spark.sql(s"CREATE TABLE ${t}_compact LIKE $t")
      spark.sql(s"INSERT INTO ${t}_compact SELECT * FROM $t " +
        "WHERE doc_id <> 2")
      val tmpRows = spark.table(s"${t}_compact").count()
      val sp = spark
      import sp.implicits._
      Seq((t, s"${t}_compact")).toDF("member", "tmp")
        .write.saveAsTable(s"${t}_swap")
      val v2 = TextOps.bm25Family(t).fsck(spark)
      assert(v2.exists(_.contains("intent marker")), v2.toString)
      val fixed = TextOps.bm25Family(t).repair(spark)
      assert(fixed.contains("recovered crashed swap renames"),
        fixed.toString)
      assert(spark.table(t).count() === tmpRows)
      assert(!spark.catalog.tableExists(s"${t}_swap"))
      assert(TextOps.bm25Family(t).fsck(spark) === Nil)
    } finally drop(bm25All(t): _*)
  }

  test("composed corruption: crashed swap + lost barrier + stats " +
      "drift ALL AT ONCE converge in one repair() call") {
    val t = s"cs_all_p$pid"
    drop(bm25All(t): _*)
    try {
      val sp = spark
      import sp.implicits._
      freshBm25(t)
      // corruption 1: a lost barrier — doc 2's replacement landed at
      // gen 2 but the barrier entry never committed
      TextOps.appendBm25Postings(
        docsDf(Seq(2L -> "stream order customer")), t,
        gen = 2L)
      // corruption 2: the `_docs` rows the stats derive from lie
      Seq((1L, 9999L, 0L)).toDF("doc_id", "dl", "gen").write
        .mode("overwrite").bucketBy(8, "doc_id").sortBy("doc_id")
        .saveAsTable(s"${t}_docs")
      // corruption 3: a swap crashed mid-rename on top of it all
      spark.sql(s"ALTER TABLE $t RENAME TO ${t}_old")
      // fsck sees ONLY the swap (content audits against a
      // half-swapped family are meaningless)...
      val v0 = TextOps.bm25Family(t).fsck(spark)
      assert(v0.forall(_.startsWith("crashed swap")), v0.toString)
      // ...and ONE repair() converges through all three classes —
      // the convergence loop re-audits after each round, so the
      // violations the crash masked surface and heal in the same call
      val fixed = TextOps.bm25Family(t).repair(spark)
      assert(fixed.contains("recovered crashed swap renames") &&
        fixed.exists(_.contains("re-barriered")), fixed.toString)
      assert(TextOps.bm25Family(t).fsck(spark) === Nil)
      // the healed family equals a from-scratch build over the FINAL
      // content (doc 2 replaced — the newest generation survives)
      val t2 = s"cs_all_twin_p$pid"
      drop(t2, s"${t2}_docs")
      try {
        TextOps.appendBm25Postings(docsDf(Seq(
          1L -> "spark join window", 2L -> "stream order customer",
          3L -> "window fast data")), t2)
        val qt = Seq((1, "window"), (2, "stream"), (2, "order"))
          .toDF("q_id", "token")
        def scores(pt: org.apache.spark.sql.DataFrame,
            st: org.apache.spark.sql.DataFrame) =
          TextOps.bm25ScoreIncr(qt, pt, st).collect()
            .map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2)))
            .toMap
        val (lp, ls) = TextOps.liveBm25(spark, t, "")
        val want = scores(spark.table(t2), TextOps.liveBm25(spark, t2, "")._2)
        assert(want.nonEmpty)
        assert(scores(lp, ls) === want)
      } finally drop(t2, s"${t2}_docs")
      assert(TextOps.bm25Family(t).repair(spark) === Nil)
    } finally drop(bm25All(t): _*)
  }

  test("ANN: a payload member stranded mid-swap heals through the " +
      "same verb and the probe returns the pre-crash answer") {
    val a = s"cs_ann_p$pid"
    val all = Seq(a, s"${a}_vec", s"${a}_cfg", s"${a}_del",
      s"${a}_hold", s"${a}_swap", s"${a}_old", s"${a}_compact",
      s"${a}_vec_old", s"${a}_vec_compact")
    drop(all: _*)
    try {
      AnnIndex.write(Tables(spark, sf, "embeddings"), a,
        nBands = 4, bits = 2)
      def probe() = AnnIndex.topK(spark, a,
          isQuery = _ < 4, k = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = probe()
      assert(want.nonEmpty)
      spark.sql(s"ALTER TABLE ${a}_vec RENAME TO ${a}_vec_old")
      val v = AnnIndex.family(a).fsck(spark)
      assert(v.exists(_.startsWith(s"crashed swap: ${a}_vec unbound")),
        v.toString)
      assert(AnnIndex.family(a).repair(spark)
        .contains("recovered crashed swap renames"))
      assert(AnnIndex.family(a).fsck(spark) === Nil)
      assert(probe() === want)
    } finally drop(all: _*)
  }
}
