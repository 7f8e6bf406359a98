package graft

import org.apache.spark.sql.functions._

/** The REAL second process for [[StreamRaceSpec]]: runs the actual
  * LEDGERED STREAMING INGEST — checkpoint, replay ledger, admission
  * gate, quarantine/metrics sinks — as its own JVM against the shared
  * warehouse, draining a feed directory the PARENT grows round by
  * round while contending on the same cross-process build lock with
  * the parent's own maintenance. Protocol (sibling marker files, all
  * OUTSIDE the globbed `documents.parquet` dir so the stream never
  * sees them):
  *
  *   parent writes round r's docs, then `go_r`;
  *   child polls `go_r`, runs one AvailableNow ingest pass (exactly
  *     the new files → one micro-batch), prints `W <epochMs> ingest r`
  *     and writes `done_r`;
  *   after the last round the child REMEDIATES its own quarantine —
  *     the operator verb under cross-process contention — and
  *     self-audits: quarantine reconciliation against the injected
  *     defect ids, heal counts, healed rows probed from the index,
  *     fsck on both members.
  *
  * Prints `CHILD_OK rounds=<n> healed=<n> remaining=<n> fsck=<n>` on
  * success (the parent asserts on the exact counts), CHILD_FAIL and
  * nonzero exit on any divergence.
  */
object ChildStream {
  private def enText(tag: String): String =
    s"this is the $tag body of a document holding plenty of english " +
      "filler words so that the curation gate keeps it namely " +
      "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo " +
      "sierra tango uniform victor whiskey xray yankee zulu"

  def main(args: Array[String]): Unit = {
    val base = args(0)
    val feed = args(1)
    val rounds = args(2).toInt
    val spark = GraftSession.builder("local[2]", "4").getOrCreate()
    // under a full parallel `sbt test` the parent JVM's other suites
    // hold the shared build lock in long stretches; the child is the
    // patient party here (the spec's deadline bounds the whole round
    // at 240 s), so it waits well past the 30 s default instead of
    // refusing mid-batch
    spark.conf.set("graft.buildLock.timeoutMs", "180000")
    val rules = Seq[graft.operators.Quality.Rule](
      graft.operators.Quality.Rule.OneOf("lang", Seq("en", "fr", "de")),
      graft.operators.Quality.Rule.InRange("n_chars", 60.0, 500.0))
    try {
      val sp = spark
      import sp.implicits._
      (1 to rounds).foreach { r =>
        val go = java.nio.file.Paths.get(feed, s"go_$r")
        val deadline = System.currentTimeMillis() + 120000L
        while (!java.nio.file.Files.exists(go)) {
          if (System.currentTimeMillis() > deadline)
            throw new IllegalStateException(s"go_$r never appeared")
          Thread.sleep(100L)
        }
        graft.streaming.StreamingOps.streamingDocumentIngest(spark,
          feed, base, admission = rules)
        println(s"W ${System.currentTimeMillis()} ingest $r")
        Console.out.flush()
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(feed, s"done_$r"))
        ()
      }
      // injected defects: per round, id r*100+90 is lang-fixable and
      // r*100+91 is a length violation the fix must NOT save
      val fixable = (1 to rounds).map(r => r * 100L + 90L).toSet
      val unfixable = (1 to rounds).map(r => r * 100L + 91L).toSet
      val q = spark.table(s"${base}_quarantine")
        .select("doc_id").as[Long].collect().toSet
      require(q == (fixable ++ unfixable),
        s"quarantine reconciliation: got $q")
      val summary = graft.streaming.StreamingOps
        .remediateQuarantine(spark, graft.streaming.IndexGroup.documents(base),
          fix = df => df.withColumn("lang",
            when(col("lang").isin("en", "fr", "de"), col("lang"))
              .otherwise(lit("en"))),
          admission = rules)
        .agg(coalesce(sum("healed"), lit(0L)),
          coalesce(sum("remaining"), lit(0L))).head
      val (healed, remaining) = (summary.getLong(0), summary.getLong(1))
      val left = spark.table(s"${base}_quarantine")
        .select("doc_id").as[Long].collect().toSet
      require(left == unfixable, s"post-heal quarantine: $left")
      // every healed doc serves from the index under its marker token
      val (p, st) = graft.operators.TextOps.liveBm25(spark,
        s"${base}_bm25", "")
      val hits = graft.operators.TextOps.bm25ScoreIncr(
        Seq((1, "healme")).toDF("q_id", "token"), p, st)
        .select("doc_id").as[Long].collect().toSet
      require(hits == fixable, s"healed probe: $hits")
      val fsck =
        graft.operators.TextOps.bm25Family(s"${base}_bm25").fsck(spark) ++
        graft.operators.TextOps.bandFamily(s"${base}_band").fsck(spark)
      fsck.foreach(v => println(s"CHILD_FSCK $v"))
      println(s"CHILD_OK rounds=$rounds healed=$healed " +
        s"remaining=$remaining fsck=${fsck.size}")
      Console.out.flush()
      spark.stop()
      sys.exit(if (fsck.isEmpty) 0 else 2)
    } catch {
      case e: Throwable =>
        println(s"CHILD_FAIL ${e.getClass.getName}: ${e.getMessage}")
        Console.out.flush()
        try spark.stop() catch { case _: Throwable => () }
        sys.exit(1)
    }
  }

  /** Round r's feed slice — shared with the parent so both sides
    * agree on the injected defects byte-for-byte. 10 clean docs, one
    * lang-fixable defect carrying the probe marker token, one length
    * defect. */
  def roundDocs(spark: org.apache.spark.sql.SparkSession, r: Int)
      : org.apache.spark.sql.DataFrame = {
    val sp = spark
    import sp.implicits._
    val good = (1 to 10).map(i =>
      (r * 100L + i, enText(s"round $r doc $i"), "en", "crawl", 120L))
    val bad = Seq(
      (r * 100L + 90L, enText(s"round $r healme"), "xx", "crawl", 150L),
      (r * 100L + 91L, enText(s"round $r overlong"), "en", "crawl",
        9999L))
    (good ++ bad).toDF("doc_id", "text", "lang", "source", "n_chars")
  }
}
