package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** TIME-TRAVEL READ + SNAPSHOT DIFF (r16): the manifest layout
  * already affords querying the PAST without restoring it — between
  * folds the manifested part-files are immutable, so "the member as
  * of tag" is exactly "read those files". Gated here:
  *   - readSnapshot returns the bit-exact member content as of the
  *     tag while the live member has moved on;
  *   - copy-class members (stats) read their O(1) meta copies;
  *   - a fold after the snapshot makes the read REFUSE loudly (the
  *     restoreSnapshot honesty rule, nothing mutated);
  *   - snapshotDiff reports the files/bytes a window accumulated and
  *     is Nil on identical tags.
  */
class TimeTravelReadSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def artifacts(t: String): Seq[String] =
    Seq(t, s"${t}_docs", s"${t}_del", s"${t}_compact", s"${t}_old") ++
      Seq("s1", "s2").flatMap(tag => Seq(s"${t}_mf_$tag") ++
        TextOps.SnapshotCopySiblings.map(c => s"$t${c}_bak_mf$tag"))

  private def raw(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("readSnapshot serves the member as of the tag while live " +
      "moves on; stats come from the meta copy; a fold refuses") {
    val t = s"tt_bm25_p$pid"
    drop(artifacts(t): _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        Seq(1L -> "spark join window", 2L -> "hash scan merge")
          .toDF("doc_id", "text"), t)
      val asOfS1 = raw(spark.table(t))
      val statsS1 = TextOps.liveBm25(spark, t, "")._2
        .select("n_docs").head().getLong(0)
      TextOps.snapshotIndex(spark, t, "s1")
      // the window accumulates: append + delete past the snapshot
      TextOps.appendBm25Postings(
        Seq(3L -> "window fast data").toDF("doc_id", "text"), t)
      TextOps.deleteBm25Docs(spark, t,
        Seq(1L).toDF("doc_id"))
      TextOps.snapshotIndex(spark, t, "s2")
      assert(raw(spark.table(t)) !== asOfS1,
        "mutations must actually change the live member")
      // time travel: bit-exact as-of content, nothing restored
      assert(raw(TextOps.readSnapshot(spark, t, "s1")) === asOfS1)
      assert(raw(TextOps.readSnapshot(spark, t, "s2"))
        === raw(spark.table(t)))
      // the stats derive from the `_docs` member as of the tag
      assert(TextOps.readSnapshot(spark, t, "s1", "_docs")
        .select("doc_id").distinct().count() === statsS1)
      // the tombstone list did not exist at s1 — honest refusal
      val e0 = intercept[IllegalArgumentException] {
        TextOps.readSnapshot(spark, t, "s1", "_del")
      }
      assert(e0.getMessage.contains("not in snapshot"), e0.getMessage)
      // diff: s1 -> s2 accumulated postings files and grew the list
      val d = TextOps.snapshotDiff(spark, t, "s1", "s2")
      assert(d.exists(v => v.startsWith(s"$t:") &&
        v.contains("+")), d.toString)
      assert(d.exists(_.contains(s"${t}_del: member added")),
        d.toString)
      assert(TextOps.snapshotDiff(spark, t, "s1", "s1") === Nil)
      // a fold rewrites history (knowingly orphaned): the as-of
      // files are gone, refuse
      TextOps.compactIndex(spark, t, TextOps.FoldGuard.Orphan)
      val e = intercept[IllegalArgumentException] {
        TextOps.readSnapshot(spark, t, "s1")
      }
      assert(e.getMessage.contains("history was rewritten"),
        e.getMessage)
    } finally drop(artifacts(t): _*)
  }
}
