package graft

import graft.extensions.GraftExtensions
import graft.plans.{AsOfJoin, AsOfJoinStrategy}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The session seam: GraftSession.builder installs GraftExtensions, so
  * the suite's session (and each newSession() of it) carries the graft
  * functions, both rewrite rules and the as-of strategy; a bare session
  * gets the functions and the strategy from GraftSession.ensure, which
  * SparkEntry.queries calls.
  */
class ExtensionsSpec extends AnyFunSuite with SparkSuite {

  private val names = graft.functions.VectorFunctions.all.map(_._1)

  test("optimizer rule rewrites HOF dot product to native DotProduct") {
    val e = Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val hof = e.select(col("vec_id"), expr(
      "aggregate(zip_with(v, v, (x, y) -> x * y), 0D, (acc, v2) -> acc + v2)")
      .as("norm2"))
    val optimized = hof.queryExecution.optimizedPlan.toString
    assert(optimized.contains("dotproduct("), optimized)
    // rewrite preserves values exactly (same accumulation order)
    val native = e.select(col("vec_id"),
      expr("graft_dot(v, v)").as("norm2"))
    assert(hof.exceptAll(native).count() === 0)
    assert(native.exceptAll(hof).count() === 0)
  }

  test("rule leaves non-matching HOF aggregates alone") {
    val e = Tables(spark, sf, "embeddings")
      .select(col("embedding").cast("array<double>").as("v"))
    // sum of squares of the SUM lambda form differs: (acc,v) -> acc + v*v
    val other = e.select(expr(
      "aggregate(v, 0D, (acc, x) -> acc + x * x)").as("s"))
    val optimized = other.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("dotproduct("), optimized)
    assert(other.count() > 0)
  }

  test("optimizer rule rewrites size(array_intersect) to IntersectSize") {
    val sp = spark
    import sp.implicits._
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
    // value parity incl. null arrays, null elements, duplicates — fused
    // function vs the composable form on the same rows. With ANSI off,
    // legacySizeOfNull=true makes size(null)=-1, which the rewrite
    // preserves via coalesce(fused, -1).
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
    // every injection without error
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext)
  }

  test("a GraftSession session and its newSession() hold every graft " +
      "function, both rewrites and the as-of strategy from birth") {
    for (s <- Seq(spark, spark.newSession())) {
      import s.implicits._
      assert(names.size === 13)
      assert(names.forall(n =>
        s.sessionState.functionRegistry.functionExists(FunctionIdentifier(n))),
        names)
      assert(s.experimental.extraOptimizations.isEmpty)
      def optimized(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.toString
      val dot = optimized(Tables(s, sf, "embeddings")
        .select(col("embedding").cast("array<double>").as("v"))
        .select(expr(
          "aggregate(zip_with(v, v, (x, y) -> x * y), 0D, (a, y) -> a + y)")))
      assert(dot.contains("dotproduct("), dot)
      val inter = optimized(Tables(s, sf, "documents")
        .select(size(array_intersect(split($"text", " "),
          split(lower($"text"), " ")))))
      assert(inter.contains("intersectsize("), inter)
      assert(s.experimental.extraStrategies.isEmpty)
      val l = Seq((1, 10L)).toDF("k", "t")
      val r = Seq((1, 9L, "x")).toDF("qk", "qt", "v")
      assert(AsOfJoin.join(l, r, "k", "qk", "t", "qt").select("v")
        .collect().map(_.getString(0)) === Array("x"))
      assert(s.experimental.extraStrategies.isEmpty)
    }
  }

  test("a bare session gets graft through SparkEntry.queries: same rows " +
      "as a GraftSession session; ensure installs the strategy once") {
    val queries = Seq("q_asof_native", "q_kmv_distinct", "q_heavy_hitters")
    def rows(s: SparkSession, q: String) =
      SparkEntry.queries(q)(s, sf).collect().map(_.toString).sorted.toSeq
    val onGraft = queries.map(rows(spark, _))
    withOwnSession(SparkSession.builder()) { bare =>
      assert(!bare.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("graft_dot")))
      assert(SparkEntry.entry(bare).count() > 0)
      assert(queries.map(rows(bare, _)) === onGraft)
      GraftSession.ensure(bare)
      GraftSession.ensure(bare)
      assert(bare.experimental.extraStrategies
        .count(_ eq AsOfJoinStrategy) === 1)
    }
  }

  test("VectorFunctions.register installs every function once per " +
      "session: a repeated call keeps the registrations, a new session " +
      "gets all of them") {
    def infos(s: SparkSession) = names.map(n =>
      s.sessionState.functionRegistry.lookupFunction(FunctionIdentifier(n)))
    withOwnSession(SparkSession.builder()) { bare =>
      assert(infos(bare).forall(_.isEmpty))
      graft.functions.VectorFunctions.register(bare)
      val first = infos(bare)
      assert(first.forall(_.isDefined))
      graft.functions.VectorFunctions.register(bare)
      // a replacement would install a new ExpressionInfo per name
      assert(infos(bare).zip(first).forall { case (a, b) => a.get eq b.get })
      val next = bare.newSession()
      assert(infos(next).forall(_.isEmpty))
      graft.functions.VectorFunctions.register(next)
      assert(infos(next).forall(_.isDefined))
      assert(next.sql("SELECT graft_dot(array(1.0D, 2.0D), " +
        "array(3.0D, 4.0D))").head().getDouble(0) === 11.0)
    }
  }
}
