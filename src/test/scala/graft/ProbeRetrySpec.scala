package graft

import graft.operators.{BqIndex, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** retryingProbe (r14): the serving-side half of the maintenance
  * contract — compaction/vacuum swaps serialize WRITERS under the
  * build lock, but a concurrent direct probe can transiently fail in
  * the rename-out window or read the dropped `_old` location's files.
  * The helper classifies exactly those failures, refreshes the
  * family's relations, and re-plans; everything else propagates
  * unchanged on the first throw. consistentProbe (r17) adds the
  * fingerprint validation that catches the swap's THIRD, silent
  * failure mode: an empty listing inside the rename window that
  * returns zero rows with nothing thrown.
  */
class ProbeRetrySpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()
  private def emb = Tables(spark, sf, "embeddings")

  test("a transient table-unbound window is retried to success") {
    val t = s"pr_tbl_p$pid"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    try {
      BqIndex.write(emb, t)
      var calls = 0
      val n = TextOps.retryingProbe(spark, Seq(t), backoffMs = 1L) {
        calls += 1
        // first attempt hits the rename-out window (simulated: the
        // name is unbound); the retry sees the committed swap
        if (calls == 1) spark.table(s"${t}_renamed_out_p$pid").count()
        else spark.table(t).count()
      }
      assert(calls === 2)
      assert(n > 0)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("a stale file listing (FileNotFound mid-scan) is retried after " +
      "a refresh") {
    val t = s"pr_file_p$pid"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    try {
      BqIndex.write(emb, t)
      var calls = 0
      val n = TextOps.retryingProbe(spark, Seq(t), backoffMs = 1L) {
        calls += 1
        if (calls == 1) throw new org.apache.spark.SparkException(
          "Job aborted",
          new java.io.FileNotFoundException(
            "part-00000 of the dropped _old location does not exist"))
        else spark.table(t).count()
      }
      assert(calls === 2)
      assert(n > 0)
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("non-transient failures propagate on the FIRST attempt") {
    var calls = 0
    val e = intercept[IllegalArgumentException] {
      TextOps.retryingProbe(spark, Seq(), backoffMs = 1L) {
        calls += 1
        throw new IllegalArgumentException("wrong query width")
      }
    }
    assert(calls === 1)
    assert(e.getMessage.contains("wrong query width"))
  }

  test("a persistent transient failure propagates after the budget") {
    var calls = 0
    intercept[java.io.FileNotFoundException] {
      TextOps.retryingProbe(spark, Seq(), attempts = 3,
        backoffMs = 1L) {
        calls += 1
        throw new java.io.FileNotFoundException("never heals")
      }
    }
    assert(calls === 3)
  }

  test("a micro-batch serving stream survives live compaction of its " +
      "family (the self-maintaining-ingest composition)") {
    // a PRIVATE sfDir → a private memoized SQ family, so compacting
    // it cannot perturb the shared memo tables parallel suites probe
    val sfDir = java.nio.file.Files
      .createTempDirectory("graft_pr_sf").toString
    val qdir = java.nio.file.Files
      .createTempDirectory("graft_pr_q").toString
    val out = s"pr_stream_out_p$pid"
    emb.limit(40).write.parquet(s"$sfDir/embeddings.parquet")
    emb.limit(5)
      .select((col("vec_id") + 1000L).as("q_id"), col("embedding"))
      .write.parquet(s"$qdir/queries.parquet")
    val table = graft.operators.SqIndex.sqIndex(spark, sfDir)
    val maintFail =
      new java.util.concurrent.atomic.AtomicReference[Throwable]()
    try {
      val maint = new Thread(() => {
        try (0 until 3).foreach(_ => TextOps.compactIndex(spark, table))
        catch { case e: Throwable => maintFail.set(e) }
      })
      maint.start()
      try {
        val res = streaming.StreamingOps.streamingSq(spark, sfDir,
          s"$qdir/queries.parquet", k = 3, outTable = out)
        assert(res.count() > 0)
      } finally maint.join(60000)
      assert(maintFail.get() === null,
        s"maintenance thread failed: ${maintFail.get()}")
    } finally Seq(out, table, s"${table}_ok", s"${table}_cfg",
      s"${table}_compact", s"${table}_old")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("probes under retryingProbe survive live repeated compaction") {
    val t = s"pr_race_p$pid"
    val all = Seq(t, s"${t}_cfg", s"${t}_del", s"${t}_compact",
      s"${t}_old")
    all.foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    try {
      BqIndex.write(emb, t)
      // fragment the table so each compaction genuinely rewrites
      (0 to 2).foreach { m =>
        BqIndex.append(emb.filter(pmod(col("vec_id"), lit(3)) === m), t)
      }
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val maintFail =
        new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val maint = new Thread(() => {
        try {
          var i = 0
          while (i < 4 && !stop.get()) {
            TextOps.compactIndex(spark, t)
            i += 1
          }
        } catch { case e: Throwable => maintFail.set(e) }
        finally stop.set(true)
      })
      maint.start()
      var probes = 0
      try {
        while (!stop.get() && probes < 200) {
          val n = TextOps.retryingProbe(spark, Seq(t),
            attempts = 8, backoffMs = 20L) {
            spark.table(t).count()
          }
          assert(n > 0)
          probes += 1
        }
      } finally { stop.set(true); maint.join(60000) }
      assert(maintFail.get() === null,
        s"maintenance thread failed: ${maintFail.get()}")
      assert(probes > 0)
    } finally all.foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("consistentProbe detects a rewrite racing the probe (the " +
      "SILENT empty-window variant) and re-plans — deterministically") {
    val t = s"pr_cons_p$pid"
    val all = Seq(t, s"${t}_cfg", s"${t}_compact", s"${t}_old")
    all.foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    try {
      BqIndex.write(emb, t)
      val truth = spark.table(t).count()
      var calls = 0
      val out = TextOps.consistentProbe(spark, Seq(t),
          backoffMs = 1L) {
        calls += 1
        val frame = spark.table(t)
        // first attempt: a compaction commits BETWEEN the fingerprint
        // reads — every pre-read file vanishes (rewritten), exactly
        // what the live race produces without throwing anything
        if (calls == 1) TextOps.compactIndex(spark, t)
        frame
      }
      assert(calls === 2) // the validation fired and re-planned
      assert(out.count() === truth) // materialized, complete rows
    } finally all.foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("a raced probe attempt releases its abandoned checkpoint " +
      "blocks (r18, ADVICE — retries under rewrite churn used to pin " +
      "every abandoned attempt until the ContextCleaner got to it)") {
    val t = s"pr_consunp_p$pid"
    val all = Seq(t, s"${t}_cfg", s"${t}_compact", s"${t}_old")
    all.foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    try {
      BqIndex.write(emb, t)
      val before = spark.sparkContext.getPersistentRDDs.size
      // 5 raced probes, each retried once: a leak pins 5 abandoned
      // checkpoints. The RETURNED frames stay cached by contract, so
      // the test releases each one through its LogicalRDD before
      // measuring; parallel suites may add a transient cache or two
      // in the window — the gate is growth < 5, not == 0.
      (1 to 5).foreach { _ =>
        var calls = 0
        val out = TextOps.consistentProbe(spark, Seq(t),
            backoffMs = 1L) {
          calls += 1
          val frame = spark.table(t)
          if (calls == 1) TextOps.compactIndex(spark, t)
          frame
        }
        assert(calls === 2)
        assert(out.count() > 0)
        out.queryExecution.analyzed match {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            org.apache.spark.sql.graftbridge.GraftDatasetBridge
              .unpersistRDD(lr.rdd)
          case other => fail(
            s"expected the materialized LogicalRDD, got $other")
        }
      }
      val growth = spark.sparkContext.getPersistentRDDs.size - before
      assert(growth < 5,
        s"5 raced probes grew the persisted-RDD set by $growth — " +
          "abandoned attempts are being pinned")
    } finally all.foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("consistentProbe tolerates pure APPENDS mid-probe — an " +
      "ingesting family must not livelock its own serving path") {
    val t = s"pr_consap_p$pid"
    val all = Seq(t, s"${t}_cfg")
    all.foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    try {
      BqIndex.write(emb.filter(col("vec_id") % 2 === 0), t)
      var calls = 0
      val out = TextOps.consistentProbe(spark, Seq(t),
          backoffMs = 1L) {
        calls += 1
        val frame = spark.table(t)
        // an append lands mid-probe: before ⊂ after, nothing vanished
        if (calls == 1)
          BqIndex.append(emb.filter(col("vec_id") % 2 === 1), t)
        frame
      }
      assert(calls === 1) // accepted on the first attempt
      assert(out.count() > 0)
    } finally all.foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }
}
