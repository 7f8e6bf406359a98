package graft

import org.apache.spark.sql.functions._

/** The REAL second process for ForkedProcessSpec (r15, VERDICT item
  * 2): a standalone main the spec launches as its own JVM (`java -cp`
  * of the test classpath) against the SHARED warehouse and the SHARED
  * default build-lock file. It storms one incremental BM25 family —
  * appends, compactions, deletes, tombstone vacuums — while the
  * parent process contends on the same lock with its own maintenance
  * and probes this family's directory under retryingProbe. On
  * completion it audits itself (fsck + stats) and prints ONE line the
  * parent parses:
  *   CHILD_OK n_docs=<n> fsck=<violation count>
  * Any failure prints CHILD_FAIL and exits nonzero. Table-name
  * ownership follows the clearOrphanLocation contract — the table
  * belongs to THIS process; the parent only reads its files.
  */
object ChildStorm {
  def main(args: Array[String]): Unit = {
    val table = args(0)
    val rounds = args(1).toInt
    val spark = GraftSession.builder("local[2]", "4").getOrCreate()
    // the SparkSuite rationale: under full-suite load a lock waiter
    // can starve past the 30 s production default
    spark.conf.set("graft.buildLock.timeoutMs", "180000")
    val statsT = table + "_stats"
    try {
      val sp = spark
      import sp.implicits._
      (1 to rounds).foreach { r =>
        val docs = (1L to 20L).map { i =>
          ((r * 100 + i).toLong,
            s"tok${i % 7} tok${(i + 1) % 7} alpha beta round$r")
        }.toDF("doc_id", "text")
        graft.operators.TextOps.appendBm25Postings(docs, table, statsT)
        if (r % 2 == 0)
          graft.operators.TextOps.compactIndex(spark, table)
        if (r % 3 == 0)
          graft.operators.TextOps.deleteBm25Docs(spark, table, statsT,
            Seq((r * 100 + 1).toLong).toDF("doc_id"))
        if (r % 4 == 0)
          graft.operators.TextOps.vacuumIndex(spark, s"${table}_del",
            Seq(table), "doc_id")
      }
      val v = graft.operators.TextOps.bm25Family(table, statsT).fsck(spark)
      val n = spark.table(statsT).select("n_docs").head().getLong(0)
      // the parent asserts on this exact line
      println(s"CHILD_OK n_docs=$n fsck=${v.size}")
      v.foreach(x => println(s"CHILD_FSCK $x"))
      spark.stop()
      sys.exit(if (v.isEmpty) 0 else 2)
    } catch {
      case e: Throwable =>
        println(s"CHILD_FAIL ${e.getClass.getName}: ${e.getMessage}")
        try spark.stop() catch { case _: Throwable => () }
        sys.exit(1)
    }
  }
}
