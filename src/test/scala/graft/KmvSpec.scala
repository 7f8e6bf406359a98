package graft

import graft.functions.KmvDistinct
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class KmvSpec extends AnyFunSuite with SparkSuite {

  test("KMV estimate within 15% of exact distinct per group") {
    val df = Tables(spark, sf, "lineitem")
    val joined = df.groupBy("l_returnflag").agg(
      countDistinct(col("l_partkey")).as("exact"),
      KmvDistinct.kmvDistinct(col("l_partkey").cast("string")).as("est"))
    val rows = joined.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getLong(1).toDouble
      val est = r.getDouble(2)
      assert(math.abs(est - exact) / exact <= 0.15,
        s"${r.getString(0)}: est $est vs exact $exact")
    }
  }

  test("KMV is exact below k distinct values") {
    val sp = spark
    import sp.implicits._
    val df = (1 to 1000).map(i => s"v${i % 37}").toDF("x")
      .repartition(8) // force merges across partials
    val est = df.agg(KmvDistinct.kmvDistinct($"x")).first().getDouble(0)
    assert(est === 37.0)
  }

  test("native bigint input stays within 15% and is exact below k") {
    // accuracy on a real high-cardinality long column, across merges
    val rows = Tables(spark, sf, "lineitem").repartition(8)
      .groupBy("l_returnflag").agg(
        countDistinct(col("l_partkey")).as("exact"),
        expr("graft_kmv_distinct(l_partkey, 256)").as("est")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getLong(1).toDouble
      val est = r.getDouble(2)
      assert(math.abs(est - exact) / exact <= 0.15,
        s"${r.getString(0)}: est $est vs exact $exact")
    }
    // exactness below k distinct (the estimate short-circuit)
    val sp = spark
    import sp.implicits._
    val small = (1L to 1000L).map(_ % 37).toDF("x").repartition(8)
      .agg(expr("graft_kmv_distinct(x, 256)")).first().getDouble(0)
    assert(small === 37.0)
  }

  test("TypedImperativeAggregate form == Aggregator form, incl. merges") {
    val df = Tables(spark, sf, "lineitem").repartition(8)
    val rows = df.groupBy("l_returnflag").agg(
      KmvDistinct.kmvDistinct(col("l_partkey").cast("string")).as("agg"),
      expr("graft_kmv_distinct(CAST(l_partkey AS STRING), 256)")
        .as("imp")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(1) === r.getDouble(2), r))
  }
}
