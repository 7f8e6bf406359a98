package graft

import graft.plans.{AsOfJoin, AsOfJoinExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Gates for the native as-of join (logical node + strategy + sort-merge
  * SparkPlan): result parity with the composable union+window form, the
  * physical shape (one exchange + one sort per side, AsOfJoinExec in the
  * executed plan), and edge semantics (no-match nulls, inclusive match,
  * key isolation).
  */
class AsOfJoinSpec extends AnyFunSuite with SparkSuite {

  test("small case: inclusive match, no-match nulls, key isolation") {
    val sp = spark
    import sp.implicits._
    val trades = Seq((1, 10L), (1, 20L), (1, 5L), (2, 7L), (3, 1L))
      .toDF("k", "t")
    val quotes = Seq((1, 10L, "a"), (1, 15L, "b"), (2, 99L, "c"))
      .toDF("qk", "qt", "v")
    val got = AsOfJoin.join(trades, quotes, "k", "qk", "t", "qt")
      .select("k", "t", "qt", "v")
      .collect().map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) "" else r.getString(3))).sortBy(x => (x._1, x._2))
    assert(got === Seq(
      (1, 5L, -1L, ""), // before any quote
      (1, 10L, 10L, "a"), // inclusive: equal time matches
      (1, 20L, 15L, "b"), // latest prior
      (2, 7L, -1L, ""), // key 2's only quote is in the future
      (3, 1L, -1L, ""))) // key absent on right entirely
  }

  test("parity with the union+window composable form on real events") {
    val ev = Tables.events(spark, sf)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("click_id"))
    val native = AsOfJoin.join(purchases, clicks,
      "user_id", "c_user", "purchase_ts", "click_ts")
      .select("purchase_id", "click_id", "click_ts")
    // composable twin: union click/purchase rows, last-ignoreNulls over
    // an unbounded-to-current frame (inclusive, like the native <=)
    val tagged = ev.filter(col("event_type").isin("click", "purchase"))
    val dedupClicks = tagged.filter(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(max("event_id").as("event_id"))
      .withColumn("event_type", lit("click"))
    val u = dedupClicks.select("user_id", "ts", "event_id", "event_type")
      .unionByName(tagged.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "event_type"))
    // clicks sort before purchases at equal ts so inclusive <= holds
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), when(col("event_type") === "click", 0)
        .otherwise(1), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isClick = col("event_type") === "click"
    val expected = u
      .withColumn("click_id",
        last(when(isClick, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_ts",
        last(when(isClick, col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("click_id"),
        col("click_ts"))
    assert(native.exceptAll(expected).isEmpty &&
      expected.exceptAll(native).isEmpty)
  }

  test("same-lineage self-join with identical column names is not corrupted") {
    // both sides derive from ONE scan and keep the SAME column names —
    // the analyzer's DeduplicateRelations must re-id the right subtree
    // (it handles custom binary nodes; this pins that) or the output
    // projection would bind right columns to left ordinals
    val ev = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type")
    val l = ev.filter(col("event_type") === "purchase")
    val r = ev.filter(col("event_type") === "click")
    val joined = AsOfJoin.join(l, r, "user_id", "user_id", "ts", "ts")
    val rows = joined.collect()
    assert(rows.nonEmpty)
    // matched right halves must be CLICK rows (a corrupt binding would
    // echo the left purchase row into the right half)
    val matched = rows.filter(!_.isNullAt(7))
    assert(matched.nonEmpty)
    matched.foreach { row =>
      assert(row.getString(7) === "click", row)
      assert(row.getString(3) === "purchase", row)
    }
    // and equal an explicitly-distinct-lineage control, row for row
    val r2 = Tables.events(spark, sf)
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_id"), col("event_type").as("c_type"))
      .filter(col("c_type") === "click")
    val ctrl = AsOfJoin.join(l, r2, "user_id", "c_user", "ts", "c_ts")
    def key(rws: Array[org.apache.spark.sql.Row]) = rws.map(rw =>
      (rw.getLong(0), rw.getLong(2),
        if (rw.isNullAt(6)) -1L else rw.getLong(6))).sorted.toSeq
    assert(key(rows) === key(ctrl.collect()))
  }

  test("column names resolve case-insensitively like the rest of the engine") {
    val ev = Tables.events(spark, sf)
      .select(col("user_id").as("User_Id"), col("ts").as("Ts"),
        col("event_id"), col("event_type"))
    val l = ev.filter(col("event_type") === "purchase")
    val r = ev.filter(col("event_type") === "click")
    val joined = AsOfJoin.join(l, r, "user_id", "USER_ID", "ts", "TS")
    assert(joined.count() > 0)
  }

  test("plan: AsOfJoinExec with one exchange and one sort per side") {
    val ev = Tables.events(spark, sf)
    val l = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val r = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("u2"), col("ts").as("t2"))
      .agg(max("event_id").as("cid"))
    val df = AsOfJoin.join(l, r, "user_id", "u2", "ts", "t2")
    // force execution so the adaptive plan is final; look only at the
    // final section (the AQE string repeats the initial plan below it)
    df.queryExecution.toRdd.count()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("AsOfJoin"), p)
    // left side: one exchange + sort; right side: the groupBy already
    // exchanges on (u2, t2), so EnsureRequirements adds one more for the
    // key-only clustering — bounded, never more than 3 total
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges >= 2 && exchanges <= 3, p)
    assert("Sort \\[".r.findAllIn(p).size === 2, p)
  }

  test("randomized parity vs a driver-side reference implementation") {
    val sp = spark
    import sp.implicits._
    val rnd = new scala.util.Random(7)
    // left: duplicates allowed (incl. duplicate (key, time)); right:
    // unique (key, time) per the operator's determinism contract
    val leftRows = (1 to 400).map { i =>
      (rnd.nextInt(20), rnd.nextInt(50).toLong, i)
    }
    val rightRows = rnd.shuffle(
      (for (k <- 0 until 25; t <- 0 until 50) yield (k, t.toLong))
        .toList).take(300).map { case (k, t) => (k, t, s"v$k-$t") }
    val l = leftRows.toDF("k", "t", "id").repartition(5)
    val r = rightRows.toDF("rk", "rt", "v").repartition(3)
    val got = AsOfJoin.join(l, r, "k", "rk", "t", "rt")
      .select("id", "v").collect()
      .map(row => row.getInt(0) ->
        (if (row.isNullAt(1)) null else row.getString(1))).toMap
    val rightByKey = rightRows.groupBy(_._1)
    val expected = leftRows.map { case (k, t, id) =>
      val m = rightByKey.getOrElse(k, Nil).filter(_._2 <= t)
      id -> (if (m.isEmpty) null else m.maxBy(_._2)._3)
    }.toMap
    assert(got === expected)
  }

  test("unknown, ambiguous, and type-mismatched columns raise clearly") {
    val sp = spark
    import sp.implicits._
    val l = Seq((1, 10L)).toDF("k", "t")
    val r = Seq((1, 9L)).toDF("qk", "qt")
    val eName = intercept[IllegalArgumentException] {
      AsOfJoin.join(l, r, "k", "nope", "t", "qt")
    }
    assert(eName.getMessage.contains("'nope' not in"), eName.getMessage)
    // Int key vs Long key: must fail at the API, not with an executor
    // ClassCastException / silent hash mis-partitioning
    val rLong = Seq((1L, 9L)).toDF("qk", "qt")
    val eType = intercept[IllegalArgumentException] {
      AsOfJoin.join(l, rLong, "k", "qk", "t", "qt")
    }
    assert(eType.getMessage.contains("key types differ"), eType.getMessage)
    // duplicate name on one side: ambiguity must error, not first-match
    val rDup = Seq((1, 9L, 8L)).toDF("qk", "qt", "qt")
    val eDup = intercept[IllegalArgumentException] {
      AsOfJoin.join(l, rDup, "k", "qk", "t", "qt")
    }
    assert(eDup.getMessage.contains("ambiguous"), eDup.getMessage)
  }

  test("works via GraftExtensions injection (no explicit register)") {
    import org.apache.spark.sql.SparkSession
    // a FRESH session wired only through the GraftExtensions class must
    // plan the node with experimental.extraStrategies left empty.
    // `spark.sql.extensions` is a STATIC conf (read from the SparkContext
    // conf, unavailable to a second in-JVM session), so the in-process
    // equivalent is builder().withExtensions — it runs the exact same
    // GraftExtensions.apply, including injectPlannerStrategy.
    withOwnSession(SparkSession.builder()
        .withExtensions(new graft.extensions.GraftExtensions())
        .config("spark.sql.shuffle.partitions", "2")) { s2 =>
      import s2.implicits._
      val l = Seq((1, 10L)).toDF("k", "t")
      val r = Seq((1, 9L, "x")).toDF("qk", "qt", "v")
      val got = AsOfJoin.join(l, r, "k", "qk", "t", "qt")
        .select("v").collect().map(_.getString(0))
      assert(got === Array("x"))
      assert(s2.experimental.extraStrategies.isEmpty)
    }
  }
}
