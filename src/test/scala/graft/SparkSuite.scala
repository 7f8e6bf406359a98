package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy). */
trait SparkSuite { self: AnyFunSuite =>
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", "4").getOrCreate()
    // parallel suites + forked child JVMs contend on one unfair
    // cross-process lock file; under full-suite machine load a waiter
    // can starve past the 30 s production default — a test-runner
    // artifact, so the TEST session waits instead of refusing (specs
    // that prove the refusal build their own sessions with their own
    // bounds, CrossProcessLockSpec)
    s.conf.set("graft.buildLock.timeoutMs", "180000")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** Run `f` on a session of its own, built by `b` on the shared
    * SparkContext. getOrCreate returns the shared session unless the
    * default is cleared first (which would silently void the caller's
    * test); the new session shares the context, so it is not stopped —
    * the shared session is restored as default and active instead.
    */
  def withOwnSession[T](b: SparkSession.Builder)(f: SparkSession => T): T = {
    spark.sparkContext // force the shared context up first
    val prev = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = b.config("spark.ui.enabled", "false").getOrCreate()
      assert(s ne spark)
      f(s)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prev.foreach(SparkSession.setDefaultSession)
      prev.foreach(SparkSession.setActiveSession)
    }
  }
}
