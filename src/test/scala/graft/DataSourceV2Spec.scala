package graft

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Connector-surface gates for the graft_docs DataSource V2 source:
  * deterministic generation, partition planning, column pruning reaching
  * the reader, and doc_id range pushdown shrinking the planned splits.
  */
class DataSourceV2Spec extends AnyFunSuite with SparkSuite {

  private def read(rows: Int, parts: Int) =
    spark.read.format("graft_docs")
      .option("rows", rows).option("numPartitions", parts).load()

  test("deterministic rows, schema, and partition planning") {
    val df = read(1000, 5)
    assert(df.schema.fieldNames.toSeq ===
      Seq("doc_id", "text", "lang", "n_chars"))
    assert(df.count() === 1000)
    assert(df.rdd.getNumPartitions === 5)
    // generation is pure: two reads agree exactly
    assert(df.exceptAll(read(1000, 3)).count() === 0)
    // n_chars really is the text length
    assert(df.filter(length(col("text")) =!= col("n_chars")).count() === 0)
  }

  test("column pruning reaches the reader") {
    val df = read(100, 2).select("n_chars")
    val scans = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.head.output.map(_.name) === Seq("n_chars"))
    assert(df.agg(sum("n_chars")).first().getLong(0) > 0)
  }

  test("doc_id range pushdown shrinks the planned splits") {
    val df = read(1000, 4)
      .filter(col("doc_id") >= 900 && col("doc_id") < 950)
    assert(df.count() === 50)
    val scan = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b
    }.head
    // the scan itself carries the narrowed range: the pruned ids are
    // never generated, not generated-then-filtered
    assert(scan.scan.description().contains("range=[900,950)"),
      scan.scan.description())
    assert(scan.scan.description().contains("GreaterThanOrEqual"),
      scan.scan.description())
    // range outside the row space → zero partitions worth of work
    assert(read(1000, 4).filter(col("doc_id") >= 5000).count() === 0)
  }

  test("source composes with the engine's own operators") {
    val stats = read(500, 4)
      .groupBy("lang").agg(count(lit(1)).as("n"),
        sum("n_chars").as("chars"))
    assert(stats.count() === 4)
    assert(stats.agg(sum("n")).first().getLong(0) === 500)
    // fused text expressions run straight over the generated text
    val sh = read(50, 2)
      .select(expr("graft_shingle_set(text)").as("s"))
      .filter(size(col("s")) > 0).count()
    assert(sh === 50)
  }
}
