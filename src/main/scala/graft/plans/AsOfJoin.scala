package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join — the one whole-operator semantic Spark's built-ins
  * genuinely lack (the composable fallback is union + last-ignoreNulls
  * window, which forces both sides through one unioned schema). This is
  * the full tier-(c) Catalyst extension from SURVEY.md §7.3: a resolved
  * logical node + a planner [[SparkStrategy]] + a sort-merge physical
  * operator. The strategy comes with [[graft.extensions.GraftExtensions]]
  * (installed by `graft.GraftSession.builder`, or by
  * `spark.sql.extensions=graft.extensions.GraftExtensions`); a session
  * built without either gets it from `graft.GraftSession.ensure`.
  * `AsOfJoin.join` only builds the node: on a session without the
  * strategy, planning the result fails.
  *
  * Semantics: for every left row, the LAST right row with the same key
  * and `rightTime <= leftTime` (inclusive — DuckDB `ASOF JOIN ... ON
  * l.t >= r.t` parity); unmatched left rows keep nulls (left-outer).
  * Determinism requires right-side (key, time) uniqueness — dedupe
  * upstream (the tie order among equal (key, time) rows is undefined,
  * exactly as in DuckDB).
  *
  * Scale shape: one hash exchange + one (key, time) sort per side —
  * identical to a sort-merge join — then a single forward merge walk per
  * partition with O(1) state (the current candidate row). No per-key
  * buffering, no range-join row explosion: the intermediate never
  * exceeds |left| rows, vs |purchases|×|clicks| per key for the naive
  * time-condition join.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression)
    extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKey: Expression,
    rightKey: Expression,
    leftTime: Expression,
    rightTime: Expression)
    extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // co-partition on the key (EnsureRequirements makes the two clustered
  // distributions compatible, exactly as for a shuffled equi-join) and
  // sort each side by (key, time) — the merge walk below relies on it
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  // rows stream out 1:1 with (and in the order of) the left partitions
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyB = BindReferences.bindReference(leftKey, left.output)
    val lTimeB = BindReferences.bindReference(leftTime, left.output)
    val rKeyB = BindReferences.bindReference(rightKey, right.output)
    val rTimeB = BindReferences.bindReference(rightTime, right.output)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val nRight = right.output.size
    val allOut = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      new Iterator[InternalRow] {
        private val joined = new JoinedRow
        private val nullRight = new GenericInternalRow(nRight)
        // bind against allOut (right half forced nullable), NOT the raw
        // child outputs: a non-nullable right attribute would elide the
        // null check in the generated projection and read 0/garbage from
        // the all-null unmatched row
        private val proj = UnsafeProjection.create(allOut, allOut)
        private var curR: InternalRow = null // head of right, unconsumed
        private var lastMatch: InternalRow = null // last rt<=lt, same key
        private var lastMatchKey: Any = null // its key, cached once

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l = lIter.next()
          val lk = lKeyB.eval(l)
          val lt = lTimeB.eval(l)
          if (lk == null || lt == null) {
            // null key/time never matches; null keys sort first on the
            // right too and are discarded in the advance loop below
            proj(joined(l, nullRight))
          } else {
            if (lastMatch != null &&
              keyOrd.compare(lastMatchKey, lk) != 0)
              lastMatch = null
            var advance = true
            while (advance) {
              if (curR == null && rIter.hasNext) curR = rIter.next()
              if (curR == null) advance = false
              else {
                val rk = rKeyB.eval(curR)
                if (rk == null) curR = null // nulls-first, unmatched
                else {
                  val c = keyOrd.compare(rk, lk)
                  if (c < 0) curR = null // key exhausted, discard
                  else if (c > 0) advance = false // future key, park
                  else {
                    val rt = rTimeB.eval(curR)
                    if (rt == null) curR = null
                    else if (timeOrd.compare(rt, lt) <= 0) {
                      // better (later) candidate; copy: the underlying
                      // row object is reused by the child iterator. Key
                      // re-evaluated ONCE against the copy (rk may point
                      // into the reused row's buffers) and cached
                      lastMatch = curR.copy()
                      lastMatchKey = rKeyB.eval(lastMatch)
                      curR = null
                    } else advance = false // strictly future, park
                  }
                }
              }
            }
            proj(joined(l,
              if (lastMatch != null) lastMatch else nullRight))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level entry point. Column arguments are resolved BY NAME
  * against each side (honoring the session's case-sensitivity); the
  * right side's output is re-aliased to fresh exprIds, and — the part
  * that actually carries self-join lineage safety — the analyzer's
  * DeduplicateRelations rule re-ids the whole right subtree whenever
  * both children share attribute ids (it handles ANY multi-child node,
  * this custom one included; verified by AsOfJoinSpec's same-lineage
  * case). Rename overlapping right-side columns upstream — the
  * operator, like a real join, permits duplicate NAMES but downstream
  * selects won't.
  */
object AsOfJoin {
  def join(left: DataFrame, right: DataFrame, leftKeyCol: String,
      rightKeyCol: String, leftTimeCol: String,
      rightTimeCol: String): DataFrame = {
    val spark = left.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val lPlan = left.queryExecution.analyzed
    // fresh exprIds for every right-side attribute (see scaladoc)
    val rAliases = right.queryExecution.analyzed.output
      .map(a => Alias(a, a.name)())
    val rPlan = Project(rAliases, right.queryExecution.analyzed)
    val resolver = spark.sessionState.conf.resolver
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.filter(a => resolver(a.name, name)) match {
        case Seq(a) => a
        case Seq() => throw new IllegalArgumentException(
          s"asof: column '$name' not in [${plan.output.map(_.name)
            .mkString(", ")}]")
        case many => throw new IllegalArgumentException(
          s"asof: column '$name' is ambiguous (${many.size} matches) — " +
            "rename upstream")
      }
    val (lk, rk) = (attr(lPlan, leftKeyCol), attr(rPlan, rightKeyCol))
    val (ltc, rtc) = (attr(lPlan, leftTimeCol), attr(rPlan, rightTimeCol))
    // analysis-time type check: the exec compares with the LEFT side's
    // interpreted ordering and co-partitions by hash — a type mismatch
    // would otherwise surface as an executor ClassCastException (or,
    // worse, silently mis-partitioned data: hash(1) != hash(1L))
    def sameType(a: Attribute, b: Attribute, what: String): Unit =
      if (a.dataType != b.dataType) throw new IllegalArgumentException(
        s"asof: $what types differ: ${a.name}: ${a.dataType.simpleString}" +
          s" vs ${b.name}: ${b.dataType.simpleString} — cast upstream")
    sameType(lk, rk, "key")
    sameType(ltc, rtc, "time")
    org.apache.spark.sql.graftbridge.GraftDatasetBridge.ofRows(spark,
      AsOfJoinPlan(lPlan, rPlan, lk, rk, ltc, rtc))
  }
}
