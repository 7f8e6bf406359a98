package graft

import graft.extensions.{GraftExtensions, RewriteHofDotProduct}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite with SparkSuite {

  test("optimizer rule rewrites HOF dot product to native DotProduct") {
    val prev = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = prev :+ RewriteHofDotProduct
      val e = Tables(spark, sf, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val hof = e.select(col("vec_id"), expr(
        "aggregate(zip_with(v, v, (x, y) -> x * y), 0D, (acc, v2) -> acc + v2)")
        .as("norm2"))
      val optimized = hof.queryExecution.optimizedPlan.toString
      assert(optimized.contains("dotproduct("), optimized)
      // rewrite preserves values exactly (same accumulation order)
      VectorFunctions_check(e, hof)
    } finally spark.experimental.extraOptimizations = prev
  }

  private def VectorFunctions_check(
      e: org.apache.spark.sql.DataFrame,
      hof: org.apache.spark.sql.DataFrame): Unit = {
    graft.functions.VectorFunctions.register(spark)
    val native = e.select(col("vec_id"),
      expr("graft_dot(v, v)").as("norm2"))
    assert(hof.exceptAll(native).count() === 0)
    assert(native.exceptAll(hof).count() === 0)
  }

  test("rule leaves non-matching HOF aggregates alone") {
    val prev = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = prev :+ RewriteHofDotProduct
      val e = Tables(spark, sf, "embeddings")
        .select(col("embedding").cast("array<double>").as("v"))
      // sum of squares of the SUM lambda form differs: (acc,v) -> acc + v*v
      val other = e.select(expr(
        "aggregate(v, 0D, (acc, x) -> acc + x * x)").as("s"))
      val optimized = other.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("dotproduct("), optimized)
      assert(other.count() > 0)
    } finally spark.experimental.extraOptimizations = prev
  }

  test("optimizer rule rewrites size(array_intersect) to IntersectSize") {
    import graft.extensions.RewriteIntersectSize
    val sp = spark
    import sp.implicits._
    val prev = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = prev :+ RewriteIntersectSize
      // parquet-backed source: local Seq relations constant-fold to a
      // LocalRelation before the rule is observable
      val docs = Tables(spark, sf, "documents")
        .select(split(trim($"text"), "\\s+").as("a"),
          split(lower(trim($"text")), "\\s+").as("b"))
      val composed = docs.select(size(array_intersect($"a", $"b")).as("n"))
      val optimized = composed.queryExecution.optimizedPlan.toString
      assert(optimized.contains("intersectsize("), optimized)
      // non-string arrays are left alone
      val ints = Tables(spark, sf, "documents")
        .select(array($"doc_id").as("a"), array($"doc_id").as("b"))
        .select(size(array_intersect($"a", $"b")).as("n"))
      assert(!ints.queryExecution.optimizedPlan.toString
        .contains("intersectsize("))
    } finally spark.experimental.extraOptimizations = prev
    // value parity incl. null arrays, null elements, duplicates — fused
    // function vs the composable form on the same rows. With ANSI off,
    // legacySizeOfNull=true makes size(null)=-1, which the rewrite
    // preserves via coalesce(fused, -1).
    graft.functions.VectorFunctions.register(spark)
    val edge = Seq(
      (Seq("a", "b", "b", null), Seq("b", "c", null, null)),
      (Seq("x"), Seq[String]()),
      (null, Seq("a")))
      .toDF("a", "b")
      .select(size(array_intersect($"a", $"b")).as("composed"),
        expr("coalesce(graft_intersect_size(a, b), -1)").as("legacy_fused"),
        expr("graft_intersect_size(a, b)").as("fused"))
    assert(edge.filter(not($"composed" <=> $"legacy_fused")).count() === 0)
    val vals = edge.collect().map(r =>
      if (r.isNullAt(2)) null else r.getInt(2)).toSeq
    assert(vals === Seq(2, 0, null))
  }

  test("GraftExtensions wires function + rule into a session builder") {
    // constructing the extensions object and applying it must register
    // both injections without error (full-session wiring is exercised via
    // spark.sql.extensions in deployment)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
  }

  test("VectorFunctions.register installs every function once per " +
      "session: a repeated call keeps the registrations, a new session " +
      "gets all of them") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val names = graft.functions.VectorFunctions.all.map(_._1)
    def infos(s: org.apache.spark.sql.SparkSession) = names.map(n =>
      s.sessionState.functionRegistry.lookupFunction(FunctionIdentifier(n)))
    val fresh = spark.newSession()
    graft.functions.VectorFunctions.register(fresh)
    val first = infos(fresh)
    assert(first.forall(_.isDefined))
    graft.functions.VectorFunctions.register(fresh)
    // a replacement would install a new ExpressionInfo per name
    assert(infos(fresh).zip(first).forall { case (a, b) => a.get eq b.get })
    val next = fresh.newSession()
    graft.functions.VectorFunctions.register(next)
    assert(infos(next).forall(_.isDefined))
    assert(next.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0) === 11.0)
  }
}
