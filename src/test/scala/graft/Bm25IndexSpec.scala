package graft

import graft.operators.TextOps
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The stored bucketed BM25 postings index (VERDICT r09 #1 / r10 #2):
  * [[TextOps.writeBm25Index]] materializes the denormalized postings
  * bucketed + sorted on `token`, so every query probe joins the stored
  * table on its bucket key with NO Exchange on the corpus side — only
  * the (tiny) query-term side shuffles to the bucket count. Twin of
  * BandIndexSpec, which proves the same property for the MinHash band
  * index. Also pins the memoization contract of [[TextOps.bm25Index]]
  * (VERDICT r10 #5): the session CATALOG is the memo, so a second
  * session in the same JVM still answers q_bm25 instead of throwing
  * TABLE_OR_VIEW_NOT_FOUND off a stale JVM-global built-set.
  */
class Bm25IndexSpec extends AnyFunSuite with SparkSuite {

  private val table = "bm25_idx_spec"
  private def docs = Tables(spark, sf, "documents")

  private def queryTerms = spark
    .createDataFrame(TextOps.Bm25Queries).toDF("q_id", "qtext")
    .select(col("q_id"), explode(split(col("qtext"), " ")).as("token"))

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case other => other
  }

  test("stored-postings probe shuffles only the query-term side") {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // conf-ISOLATED session: suites plan in parallel against the shared
    // session, and holding autoBroadcastJoinThreshold=-1 there would
    // intermittently flip a concurrent PlanSpec broadcast gate to
    // sort-merge (review finding r11). newSession shares the catalog
    // (the stored table is visible) but owns its conf.
    val s = spark.newSession()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    try {
      TextOps.writeBm25Index(docs, table)
      // force the sort-merge path (at 100 TB the postings never
      // broadcast; a big query batch might not either) so the bucketed
      // layout, not a small-side broadcast, is what saves the corpus
      // shuffle. No broadcast() hint on the query side here — q_bm25
      // adds it for the 3-literal-query case; this spec models the
      // large-batch serving shape.
      s.conf.set(key, "-1")
      val qt = s.createDataFrame(TextOps.Bm25Queries).toDF("q_id", "qtext")
        .select(col("q_id"),
          explode(split(col("qtext"), " ")).as("token"))
      val out = TextOps.bm25Score(qt, s.table(table))
      val root = unwrap(out.queryExecution.executedPlan)
      val smj = root.collect { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, root.toString)
      val j = smj.head
      def scansIndex(side: SparkPlan) = side.toString.contains(table)
      def shuffles(side: SparkPlan) =
        side.collect { case e: ShuffleExchangeExec => e }.size
      val (corpusSide, querySide) =
        if (scansIndex(j.left)) (j.left, j.right) else (j.right, j.left)
      assert(scansIndex(corpusSide), root.toString)
      // the whole point: postings side reads its buckets, zero Exchange
      assert(shuffles(corpusSide) === 0, corpusSide.toString)
      // the query-term side repartitions itself to the bucket count
      assert(shuffles(querySide) === 1, querySide.toString)
      // and the scan really is bucketed (bucket metadata present)
      assert(corpusSide.toString.contains("SelectedBucketsCount"),
        corpusSide.toString)
    } finally {
      // the -1 threshold dies with the throwaway session; only the
      // shared-catalog table needs cleanup
      spark.sql(s"DROP TABLE IF EXISTS $table")
    }
  }

  test("independently built indexes yield bit-identical scores") {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    try {
      TextOps.writeBm25Index(docs, table)
      def scored(p: org.apache.spark.sql.DataFrame) =
        TextOps.bm25Score(broadcast(queryTerms), p).collect()
          .map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2))).toMap
      // build determinism + parquet round-trip stability: a freshly
      // written index and the memoized one must not differ in a single
      // score bit (micro-unit sums survive write/read exactly)
      assert(scored(spark.table(table)) ===
        scored(TextOps.bm25Index(spark, sf)))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("dead-process index leftovers are swept; live ones are kept") {
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a dir whose pid token cannot be a live process, and one owned by
    // THIS process (live by construction)
    val dead = new org.apache.hadoop.fs.Path(wh,
      "graft_bm25_idx_0123456789_p999999999")
    val live = new org.apache.hadoop.fs.Path(wh,
      s"graft_bm25_idx_0123456789_p${ProcessHandle.current().pid()}")
    fs.mkdirs(dead); fs.mkdirs(live)
    try {
      TextOps.resweepForTest(spark)
      assert(!fs.exists(dead), "dead-pid leftover not reclaimed")
      assert(fs.exists(live), "live process's index must survive")
      // the flag makes the sweep once-per-JVM: a re-created dead dir
      // stays until the next process boots (sweepDeadIndexes without
      // the re-arm is a no-op)
      fs.mkdirs(dead)
      TextOps.sweepDeadIndexes(spark)
      assert(fs.exists(dead))
    } finally { fs.delete(dead, true); fs.delete(live, true); () }
  }

  test("q_bm25 still answers from a second session in the same JVM") {
    // build (or reuse) the index through session 1 ...
    assert(TextOps.bm25Index(spark, sf).limit(1).count() === 1L)
    // ... then answer the full query through a FRESH session. Before the
    // catalog-is-the-memo fix, the JVM-global built-set skipped the
    // build here and s2.table(...) threw TABLE_OR_VIEW_NOT_FOUND.
    val s2 = spark.newSession()
    val out = SparkEntry.queries("q_bm25")(s2, sf)
    assert(out.count() > 0)
  }
}
