package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The cross-process build lock (r14, VERDICT item 2): every
  * maintenance critical section pairs the in-process monitor with an
  * atomic-create lock file carrying the owner pid. Gated here by
  * SIMULATING a second process's lock: a stale (dead-pid) lock is
  * swept and the op proceeds; a live foreign lock is waited on and
  * then refused LOUDLY — never silent file loss. The spec points its
  * session at a private lock path (`graft.buildLock.path`) so the
  * suites running in parallel against the shared warehouse never see
  * the simulated foreign holders.
  */
class CrossProcessLockSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def fsOf(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeLock(path: String, holder: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(p)
    val out = fs.create(p, true)
    try out.write(s"$holder@${TextOps.hostHash}".getBytes("UTF-8"))
    finally out.close()
  }

  private def deadPid: Long =
    Iterator.from(99999, -1).map(_.toLong)
      .find(p => !ProcessHandle.of(p).isPresent).get

  private def lockSession(path: String, timeoutMs: Long) = {
    val s2 = spark.newSession()
    s2.conf.set("graft.buildLock.path", path)
    s2.conf.set("graft.buildLock.timeoutMs", timeoutMs.toString)
    s2
  }

  test("stale dead-pid lock is swept; the maintenance op proceeds") {
    val lock = java.nio.file.Files
      .createTempDirectory("graft_lock").toString + "/l1.lock"
    val t = s"xpl_stale_p$pid"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_docs")
    val s2 = lockSession(lock, 10000L)
    try {
      writeLock(lock, deadPid)
      val sp = s2
      import sp.implicits._
      TextOps.appendBm25Postings(
        Seq(1L -> "spark join window").toDF("doc_id", "text"), t)
      assert(s2.table(t).count() > 0, "op did not proceed past the " +
        "stale lock")
      // the op's own release leaves no lock behind
      assert(!fsOf(new org.apache.hadoop.fs.Path(lock))
        .exists(new org.apache.hadoop.fs.Path(lock)))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_docs")
    }
  }

  test("live foreign lock: loud refusal after the timeout, naming the pid") {
    val lock = java.nio.file.Files
      .createTempDirectory("graft_lock").toString + "/l2.lock"
    val t = s"xpl_live_p$pid"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_docs")
    // a genuinely LIVE foreign process holds the lock
    val holder = new ProcessBuilder("sleep", "60").start()
    val s2 = lockSession(lock, 700L)
    try {
      writeLock(lock, holder.pid())
      val sp = s2
      import sp.implicits._
      val e = intercept[IllegalStateException] {
        TextOps.appendBm25Postings(
          Seq(1L -> "spark join window").toDF("doc_id", "text"), t)
      }
      assert(e.getMessage.contains(holder.pid().toString), e.getMessage)
      assert(e.getMessage.contains("refusing"), e.getMessage)
      // NO silent file loss: the refused op wrote nothing
      assert(!s2.catalog.tableExists(t))
    } finally {
      holder.destroyForcibly()
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_docs")
    }
  }

  test("serialization: the op waits out a holder that exits mid-wait") {
    val lock = java.nio.file.Files
      .createTempDirectory("graft_lock").toString + "/l3.lock"
    val t = s"xpl_wait_p$pid"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_docs")
    // the holder dies ~1s in; the op (15s budget) must then sweep the
    // now-stale lock and complete instead of refusing
    val holder = new ProcessBuilder("sleep", "1").start()
    val s2 = lockSession(lock, 15000L)
    try {
      writeLock(lock, holder.pid())
      val sp = s2
      import sp.implicits._
      TextOps.appendBm25Postings(
        Seq(1L -> "spark join window").toDF("doc_id", "text"), t)
      assert(s2.table(t).count() > 0)
    } finally {
      holder.destroyForcibly()
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_docs")
    }
  }

  test("an empty lock past the write grace reads as dead and is swept") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lock").toString
    val t = s"xpl_empty_p$pid"
    // an empty body (crashed between create and pid write), and a
    // bare pid without `@host` — unreadable too, so it is retired
    // after the same grace even when that pid is a live process
    val live = new ProcessBuilder("sleep", "60").start()
    try {
      Seq("l4.lock" -> "", "l4b.lock" -> live.pid().toString).foreach {
        case (name, body) =>
          val lock = s"$dir/$name"
          writeLockStr(lock, body)
          val p = new org.apache.hadoop.fs.Path(lock)
          fsOf(p).setTimes(p, System.currentTimeMillis() - 60000L, -1L)
          spark.sql(s"DROP TABLE IF EXISTS $t")
          spark.sql(s"DROP TABLE IF EXISTS ${t}_docs")
          val s2 = lockSession(lock, 10000L)
          val sp = s2
          import sp.implicits._
          TextOps.appendBm25Postings(
            Seq(1L -> "spark join window").toDF("doc_id", "text"), t)
          assert(s2.table(t).count() > 0, body)
      }
    } finally {
      live.destroyForcibly()
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_docs")
    }
  }

  private def writeLockStr(path: String, body: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(p)
    val out = fs.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  test("host identity (r19, ADVICE #1): a FOREIGN host's holder " +
      "whose pid is absent HERE is NOT dead-pid-swept — it waits, " +
      "then refuses; only the staleness TTL retires it") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_lock").toString
    val lock = dir + "/l5.lock"
    val t = s"xpl_host_p$pid"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_docs")
    val otherHost =
      if (TextOps.hostHash == "abc123") "def456" else "abc123"
    val dp = deadPid
    val s2 = lockSession(lock, 700L)
    try {
      // parsing: pid@host, a bare pid, garbage
      assert(TextOps.parseLockHolder(s"$dp@$otherHost") ===
        Some((dp, false)))
      assert(TextOps.parseLockHolder(
        s"$dp@${TextOps.hostHash}") === Some((dp, true)))
      assert(TextOps.parseLockHolder(dp.toString) === None)
      assert(TextOps.parseLockHolder("") === None)
      assert(TextOps.parseLockHolder("junk@zz") === None)

      // a FRESH foreign lock with a locally-absent pid: pre-r19 this
      // read as dead and was deleted — two writers then raced; now
      // the acquire waits and refuses loudly, file intact
      writeLockStr(lock, s"$dp@$otherHost")
      val sp = s2
      import sp.implicits._
      val e = intercept[IllegalStateException] {
        TextOps.appendBm25Postings(
          Seq(1L -> "spark join window").toDF("doc_id", "text"), t)
      }
      assert(e.getMessage.contains("refusing"), e.getMessage)
      assert(fsOf(new org.apache.hadoop.fs.Path(lock))
        .exists(new org.apache.hadoop.fs.Path(lock)),
        "foreign live-elsewhere lock was swept")

      // past graft.buildLock.staleMs the same lock reads as
      // abandoned and the op proceeds
      val p = new org.apache.hadoop.fs.Path(lock)
      fsOf(p).setTimes(p,
        System.currentTimeMillis() - 7200L * 1000, -1L)
      TextOps.appendBm25Postings(
        Seq(1L -> "spark join window").toDF("doc_id", "text"), t)
      assert(s2.table(t).count() > 0)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_docs")
    }
  }

  test("same-host dead pid still sweeps under the new pid@host " +
      "format — the r14 crash-recovery semantics are unchanged") {
    val lock = java.nio.file.Files
      .createTempDirectory("graft_lock").toString + "/l6.lock"
    val t = s"xpl_host2_p$pid"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_docs")
    val s2 = lockSession(lock, 10000L)
    try {
      writeLockStr(lock, s"$deadPid@${TextOps.hostHash}")
      val sp = s2
      import sp.implicits._
      TextOps.appendBm25Postings(
        Seq(1L -> "spark join window").toDF("doc_id", "text"), t)
      assert(s2.table(t).count() > 0)
      assert(!fsOf(new org.apache.hadoop.fs.Path(lock))
        .exists(new org.apache.hadoop.fs.Path(lock)))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_docs")
    }
  }

  test("waitMsOverride (r19, ADVICE #4): a caller for whom failing " +
      "is worse than waiting stretches the acquire past the session " +
      "default — the streaming slice write's shape") {
    val lock = java.nio.file.Files
      .createTempDirectory("graft_lock").toString + "/l7.lock"
    // session default would give up at 300 ms; the holder lives ~2 s.
    // With the override (as writeBatchSlice passes) the acquire rides
    // out the holder's death and proceeds instead of failing the
    // micro-batch.
    val holder = new ProcessBuilder("sleep", "2").start()
    val s2 = lockSession(lock, 300L)
    try {
      writeLock(lock, holder.pid())
      var ran = false
      TextOps.withBuildLock(s2, waitMsOverride = Some(15000L)) {
        ran = true
      }
      assert(ran)
      // and WITHOUT the override the same shape refuses fast
      val holder2 = new ProcessBuilder("sleep", "60").start()
      try {
        writeLock(lock, holder2.pid())
        val e = intercept[IllegalStateException] {
          TextOps.withBuildLock(s2) { () }
        }
        assert(e.getMessage.contains("refusing"), e.getMessage)
      } finally holder2.destroyForcibly()
    } finally holder.destroyForcibly()
  }
}
