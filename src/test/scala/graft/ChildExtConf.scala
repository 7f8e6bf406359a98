package graft

import org.apache.spark.sql.SparkSession

/** A standalone main for [[ForkedProcessSpec]]'s extensions leg: a
  * session configured ONLY with
  * `spark.sql.extensions=graft.extensions.GraftExtensions` (the static
  * conf, which needs a JVM of its own), not built by GraftSession and
  * never passed through GraftSession.ensure. It runs a `graft_dot` query
  * and q_asof_native's query function directly (SparkEntry.queries would
  * arm the session itself), then prints
  * `CHILD_OK dot=<v> rewrite=<bool> asof_rows=<n> extra_strategies=<n>`.
  */
object ChildExtConf {
  def main(args: Array[String]): Unit = {
    val sf = args(0)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft_ext_child_wh")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val dot = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), " +
        "array(3.0D, 4.0D))").head().getDouble(0)
      val rewrite = spark.sql("SELECT aggregate(zip_with(v, v, " +
        "(x, y) -> x * y), 0D, (a, y) -> a + y) FROM (SELECT " +
        "CAST(embedding AS ARRAY<DOUBLE>) AS v FROM parquet.`" +
        s"$sf/embeddings.parquet`)").queryExecution.optimizedPlan.toString
        .contains("dotproduct(")
      val asof = graft.operators.Joins.defs
        .find(_.name == "q_asof_native").get.fn(spark, sf).count()
      println(s"CHILD_OK dot=$dot rewrite=$rewrite asof_rows=$asof " +
        s"extra_strategies=${spark.experimental.extraStrategies.size}")
      Console.out.flush()
      spark.stop()
      sys.exit(0)
    } catch {
      case e: Throwable =>
        println(s"CHILD_FAIL ${e.getClass.getName}: ${e.getMessage}")
        Console.out.flush()
        try spark.stop() catch { case _: Throwable => () }
        sys.exit(1)
    }
  }
}
