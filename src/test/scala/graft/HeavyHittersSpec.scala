package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Misra-Gries TypedImperativeAggregate gates: exactness below k distinct
  * (incl. across partitions/shuffle merges), the frequency guarantee above
  * k, and buffer serialization round-trip.
  */
class HeavyHittersSpec extends AnyFunSuite with SparkSuite {

  test("exact when distinct <= k, any partitioning") {
    val sp = spark
    import sp.implicits._
    val data = (1 to 3000).map(i => s"v${i % 5}")
    // 8 partitions force partial buffers + serialized merges
    val df = sp.sparkContext.parallelize(data, 8).toDF("x")
    val got = df.agg(expr("graft_heavy_hitters(x, 16)").as("hh"))
      .select(explode($"hh").as("h"))
      .select($"h.item", $"h.cnt")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === (0 until 5).map(i => s"v$i" -> 600L).toMap)
  }

  test("above k: every item with freq > n/(k+1) survives, bounded undercount") {
    val sp = spark
    import sp.implicits._
    // one dominant item (40%), many singletons
    val n = 2000
    val data = Seq.fill(n * 2 / 5)("hot") ++
      (1 to n * 3 / 5).map(i => s"cold$i")
    val df = sp.sparkContext.parallelize(data, 4).toDF("x")
    val k = 8
    val got = df.agg(expr(s"graft_heavy_hitters(x, $k)").as("hh"))
      .select(explode($"hh").as("h"))
      .select($"h.item", $"h.cnt")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = data.size
    assert(got.contains("hot"), got)
    val est = got("hot")
    val truth = (n * 2 / 5).toLong
    assert(est <= truth)
    assert(truth - est <= total / (k + 1) + 1,
      s"undercount ${truth - est} > ${total / (k + 1)}")
    assert(got.size <= k)
  }

  test("invalid k raises a clear AnalysisException, not an NPE") {
    val sp = spark
    import sp.implicits._
    val df = Seq("a", "b").toDF("x")
    val eNull = intercept[org.apache.spark.sql.AnalysisException] {
      df.agg(expr("graft_heavy_hitters(x, NULL)")).first()
    }
    assert(eNull.getMessage.contains("integral literal"), eNull.getMessage)
    val eStr = intercept[org.apache.spark.sql.AnalysisException] {
      df.agg(expr("graft_heavy_hitters(x, 'ten')")).first()
    }
    assert(eStr.getMessage.contains("integral literal"), eStr.getMessage)
  }

  test("nulls ignored; empty input yields empty array") {
    val sp = spark
    import sp.implicits._
    val df = Seq(Some("a"), None, Some("a"), None).toDF("x")
    val got = df.agg(expr("graft_heavy_hitters(x, 4)").as("hh")).first()
      .getSeq[org.apache.spark.sql.Row](0)
    assert(got.map(r => r.getString(0) -> r.getLong(1)) === Seq("a" -> 2L))
    val empty = Seq.empty[String].toDF("x")
      .agg(expr("graft_heavy_hitters(x, 4)").as("hh")).first().getSeq[Any](0)
    assert(empty.isEmpty)
  }
}
