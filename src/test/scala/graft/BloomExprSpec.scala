package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft_bloom_agg / graft_might_contain — Spark's runtime-filter bloom
  * expressions surfaced for explicit semi-join gating (q_contamination).
  * The contract that makes the gate semantics-preserving: NO false
  * negatives (every inserted key probes true), bounded false positives
  * (a too-permissive filter would merely shuffle more, never drop a
  * contaminated doc).
  */
class BloomExprSpec extends AnyFunSuite with SparkSuite {

  /** 1000-key view `bloom_keys` with the given prefix. */
  private def keysView(name: String, prefix: String): Unit = {
    import spark.implicits._
    (0L until 1000L).map(i => s"${prefix}_$i").toDF("k")
      .createOrReplaceTempView(name)
  }

  test("no false negatives: every inserted key probes true") {
    keysView("bloom_keys", "key")
    val misses = spark.sql(
      "SELECT count(*) AS n FROM bloom_keys WHERE NOT graft_might_contain(" +
        "(SELECT graft_bloom_agg(xxhash64(k), 2000L) FROM bloom_keys), " +
        "xxhash64(k))")
      .head().getLong(0)
    assert(misses === 0L)
  }

  test("arity misuse fails at analysis with a clear message") {
    keysView("bloom_keys", "key")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_might_contain(xxhash64('a'))").collect()
    }
    assert(e.getMessage.contains("graft_might_contain"), e.getMessage)
  }

  test("false-positive rate on disjoint probes stays far from 100%") {
    keysView("bloom_keys", "key")
    keysView("bloom_probes", "other")
    val fp = spark.sql(
      "SELECT count(*) AS n FROM bloom_probes WHERE graft_might_contain(" +
        "(SELECT graft_bloom_agg(xxhash64(k), 2000L) FROM bloom_keys), " +
        "xxhash64(k))")
      .head().getLong(0)
    // default sizing (8 bits/item) gives ~2% fp; the gate only needs
    // "substantially selective" — the exact join re-verifies survivors
    assert(fp < 200L, s"false positives: $fp/1000")
  }
}
