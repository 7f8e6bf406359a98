package graft

import graft.functions.VectorFunctions
import org.scalatest.funsuite.AnyFunSuite

/** Every graft_* registration is arity-checked in its builder
  * (VectorExpressions.scala) so misuse fails at analysis with the
  * function's name — not with a raw IndexOutOfBounds (missing argument)
  * or a silently dropped argument (extra). One parameterized test per
  * registration (VERDICT r07 #3), plus a coverage gate: a new
  * registration that isn't added to the arity table below fails the
  * suite, so the check can't ship untested again.
  */
class ArityCheckSpec extends AnyFunSuite with SparkSuite {

  /** name -> (min arity, max arity), mirroring the `arity` calls in
    * VectorFunctions.all.
    */
  private val arities: Map[String, (Int, Int)] = Map(
    "graft_dot" -> ((2, 2)),
    "graft_shingles" -> ((1, 1)),
    "graft_shingle_set" -> ((1, 1)),
    "graft_minhash_lanes" -> ((1, 1)),
    "graft_intersect_size" -> ((2, 2)),
    "graft_sign_pack" -> ((1, 1)),
    "graft_sign_pack_words" -> ((1, 1)),
    "graft_hamming" -> ((2, 2)),
    "graft_simhash16" -> ((1, 1)),
    "graft_heavy_hitters" -> ((2, 2)),
    "graft_kmv_distinct" -> ((2, 2)),
    "graft_bloom_agg" -> ((1, 3)),
    "graft_might_contain" -> ((2, 2)))

  test("arity table covers the whole registry (and nothing else)") {
    assert(arities.keySet === VectorFunctions.all.map(_._1).toSet)
  }

  /** The builder's arity check fires before any type validation, so
    * plain integer-literal filler arguments are enough to probe it.
    */
  private def call(name: String, n: Int): Unit = {
    spark.sql(s"SELECT $name(${Seq.fill(n)("1").mkString(", ")})").collect()
  }

  private def assertAnalysisErrorNaming(name: String)(body: => Unit): Unit = {
    val e = intercept[org.apache.spark.sql.AnalysisException](body)
    assert(e.getMessage.contains(name), e.getMessage)
    assert(e.getMessage.contains("arguments"), e.getMessage)
  }

  arities.toSeq.sortBy(_._1).foreach { case (name, (lo, hi)) =>
    test(s"$name: one argument short fails at analysis naming the function") {
      assertAnalysisErrorNaming(name)(call(name, lo - 1))
    }
    test(s"$name: one argument extra fails at analysis naming the function") {
      assertAnalysisErrorNaming(name)(call(name, hi + 1))
    }
  }
}
