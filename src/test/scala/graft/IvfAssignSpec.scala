package graft

import graft.operators.Ivf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The IVF nearest-centroid argmax has two regimes (VERDICT r08 #2):
  * a codegen'd literal-centroid expression at k ≤ LiteralArgmaxMaxK and
  * a broadcast-join + WindowGroupLimit argmax above it (the k→√n scale
  * path). The dispatch must be invisible to results: identical rounded
  * cosine, identical smallest-cell-on-ties rule.
  *
  * Fixtures are synthetic deterministic integer-family vectors (dense
  * vec_ids from 0, no zero norms by construction) so the spec pins
  * exact equality, not approximate agreement.
  */
class IvfAssignSpec extends AnyFunSuite with SparkSuite {

  private val dim = 8

  /** 120 vectors, ids dense from 0; no row is all-zero (17j mod 13
    * varies with j, so the 13-residue can't sit at 6 for every j). */
  private lazy val e: DataFrame = {
    import spark.implicits._
    (0 until 120).map { i =>
      (i.toLong,
        (0 until dim).map(j => ((i * 31 + j * 17) % 13 - 6).toDouble))
    }.toDF("vec_id", "v")
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
  }

  /** 40 centroids — above the k=32 crossover. */
  private val cents: Seq[(Int, Seq[Double])] = (0 until 40).map { c =>
    (c, (0 until dim).map(j => ((c * 7 + j * 5) % 9 - 4).toDouble))
  }

  private def cells(df: DataFrame): Map[Long, Int] =
    df.select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap

  test("broadcast-join argmax == literal argmax at k=40") {
    val viaLiteral = cells(e.withColumn("cell", Ivf.assign(cents)))
    val viaJoin = cells(Ivf.assignByJoin(e, cents))
    assert(viaJoin.size === 120)
    assert(viaJoin === viaLiteral)
  }

  test("assignCells dispatches: expression below crossover, join above") {
    def hasJoin(df: DataFrame): Boolean =
      df.queryExecution.analyzed.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.nonEmpty
    assert(Ivf.LiteralArgmaxMaxK === 32)
    assert(!hasJoin(Ivf.assignCells(e, cents.take(8))),
      "k=8 must stay a pure expression — no join in the plan")
    assert(hasJoin(Ivf.assignCells(e, cents)),
      "k=40 must ship the centroids as a broadcast join")
    // at the boundary itself the cheap expression still wins
    assert(!hasJoin(Ivf.assignCells(e, cents.take(32))))
  }

  test("join path: centroid side is broadcast, argmax cut is capped") {
    val p = Ivf.assignByJoin(e, cents).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p.take(800))
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("zero-norm and NULL vectors land in the smallest cell, BOTH regimes") {
    // without the sentinel cosine the literal path argmaxes an all-NULL
    // array to a NULL cell while the join path's NULLS-LAST tie picks
    // the smallest cell — the dispatch would leak into results exactly
    // on the degenerate rows the embed queries now surface. The NULL
    // row additionally exercises the condition-is-NULL branch of the
    // guard (NULL > 0 falls to otherwise, not false)
    import spark.implicits._
    val degenerate = Seq(
      (998L, Option.empty[Seq[Double]]),
      (999L, Option(Seq.fill(dim)(0.0))))
      .toDF("vec_id", "v")
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    val withDegen = e.unionByName(degenerate)
    val viaLiteral = cells(withDegen.withColumn("cell", Ivf.assign(cents.take(8))))
    val viaJoin = cells(Ivf.assignByJoin(withDegen, cents.take(8)))
    assert(viaLiteral(998L) === 0)
    assert(viaLiteral(999L) === 0)
    // the well-formed rows are untouched by the sentinel branch
    assert(viaLiteral === viaJoin)
    // and above the crossover the dispatch stays invisible too
    val viaJoin40 = cells(Ivf.assignByJoin(withDegen, cents))
    val viaLiteral40 = cells(withDegen.withColumn("cell", Ivf.assign(cents)))
    assert(viaJoin40(998L) === 0)
    assert(viaJoin40(999L) === 0)
    assert(viaLiteral40 === viaJoin40)
  }

  test("kmeansCells end-to-end above the crossover keeps each row once") {
    val out = Ivf.kmeansCells(e, k = 40, dim = dim, iters = 2)
    assert(out.count() === 120)
    assert(out.select("vec_id").distinct().count() === 120)
    // every assigned cell is one of the (surviving) seed-id cells
    val seedIds = (0 until 40).toSet
    val used = out.select("cell").distinct().collect()
      .map(_.getInt(0)).toSet
    assert(used.subsetOf(seedIds), s"unexpected cells: ${used -- seedIds}")
  }
}
