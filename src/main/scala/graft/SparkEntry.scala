package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each operator family lives in graft.operators.*; every entry pairs a
  * Spark DataFrame implementation with (when SQL-expressible) a DuckDB
  * oracle over the same /root/testdata parquet tables.
  */
object SparkEntry {

  private def all: Seq[QDef] =
    Relational.defs ++ Aggregates.defs ++ Joins.defs ++ Reshape.defs ++
      TextOps.defs ++ Similarity.defs ++ Multimodal.defs ++
      TrainingData.defs ++ Layout.defs ++ Quality.defs

  /** Flagship query (SURVEY.md §7.1): daily deltas from cumulative-style
    * per-entity series — the reference pipeline's core derivation
    * (ETL_OMS.py:70-74) as a window lag. Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_delta")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each arms
    * its session first ([[GraftSession.ensure]]): the caller's session
    * need not come from [[GraftSession.builder]].
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> { (s: SparkSession, d: String) =>
      GraftSession.ensure(s)
      q.fn(s, d)
    }).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
