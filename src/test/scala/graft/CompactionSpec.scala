package graft

import graft.operators.{AnnIndex, BqIndex, IvfIndex, PqIndex, SqIndex, TextOps}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** TextOps.compactIndex — the maintenance half of the append-only
  * contract: every ingest batch adds a file per bucket, compaction
  * collapses the table back to one file per bucket WITHOUT changing
  * content or losing the bucket spec (and with it the zero-Exchange
  * probe property every stored-index family depends on).
  */
class CompactionSpec extends AnyFunSuite with SparkSuite {

  private def emb = Tables(spark, sf, "embeddings")

  private def dataFiles(table: String): Seq[String] = {
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(loc).map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith(".")).toSeq
  }

  test("compaction: content identical, one file/bucket, spec preserved") {
    val pid = ProcessHandle.current().pid()
    val t = s"compact_spec_p$pid"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_compact")
    try {
      // grow the table through four appends — each leaves its own
      // files, the fragmentation compaction exists to undo
      (0 to 3).foreach { m =>
        BqIndex.append(emb.filter(pmod(col("vec_id"), lit(4)) === m), t)
      }
      val before = spark.table(t).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).sortBy(_._1)
        .toSeq
      val filesBefore = dataFiles(t).size
      assert(filesBefore > 8, s"expected fragmentation, got $filesBefore")

      TextOps.compactIndex(spark, t)

      val after = spark.table(t).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).sortBy(_._1)
        .toSeq
      assert(after === before)
      // one file per bucket (8 = the family default used by append)
      assert(dataFiles(t).size === 8, dataFiles(t).mkString(","))
      // the tmp name must not linger
      assert(!spark.catalog.tableExists(s"${t}_compact"))

      // bucket spec survived the swap: a forced-SMJ self-join on the
      // bucket key plans with zero Exchange on both sides
      val s2 = spark.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val a = s2.table(t)
      val b = s2.table(t).select(col("vec_id").as("q_id"),
        col("sig").as("q_sig"))
      val joined = a.join(b, col("vec_id") === col("q_id"))
      def unwrap(p: org.apache.spark.sql.execution.SparkPlan)
          : org.apache.spark.sql.execution.SparkPlan = p match {
        case ad: AdaptiveSparkPlanExec => unwrap(ad.executedPlan)
        case other => other
      }
      val root = unwrap(joined.queryExecution.executedPlan)
      val smj = root.collect { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty, root.toString)
      def shuffles(p: org.apache.spark.sql.execution.SparkPlan) =
        p.collect { case e: ShuffleExchangeExec => e }.size
      assert(shuffles(smj.head.left) === 0, smj.head.left.toString)
      assert(shuffles(smj.head.right) === 0, smj.head.right.toString)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_compact")
    }
  }

  test("compacted BM25 postings probe bit-identically") {
    // the flagship composition: grow the incremental postings index by
    // appends (files per batch per bucket), compact, and the lexical
    // probe must be unchanged pair-for-pair and score-for-score
    val pid = ProcessHandle.current().pid()
    val t = s"compact_bm25_p$pid"
    Seq(t, s"${t}_docs", s"${t}_compact")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    try {
      val docs = Tables(spark, sf, "documents")
      (0 to 2).foreach { m =>
        TextOps.appendBm25Postings(
          docs.filter(pmod(col("doc_id"), lit(3)) === m), t)
      }
      val sp = spark
      import sp.implicits._
      val qt = Seq((0L, "the"), (0L, "of"), (1L, "data"))
        .toDF("q_id", "token")
      def probe() = TextOps.bm25ScoreIncr(qt, spark.table(t),
        TextOps.liveBm25(spark, t, "")._2).collect()
        .map(r => ((r.getAs[Long]("q_id"), r.getAs[Long]("doc_id")),
          r.getAs[Double]("score"))).toMap
      val before = probe()
      val filesBefore = dataFiles(t).size
      TextOps.compactIndex(spark, t)
      assert(probe() === before)
      assert(before.nonEmpty)
      assert(dataFiles(t).size === 8, s"was $filesBefore")
    } finally Seq(t, s"${t}_docs", s"${t}_compact")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("crash between swap renames: recoverSwap promotes the new copy") {
    // mid-swap state A: `t` renamed OUT to _old, replacement fully
    // written under _compact, crash before rename-in — the state the
    // old DROP→RENAME could strand data in (VERDICT r12 #4)
    val pid = ProcessHandle.current().pid()
    val t = s"swap_crash_a_p$pid"
    Seq(t, s"${t}_old", s"${t}_compact")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    try {
      BqIndex.append(emb.filter(col("vec_id") < 100), t)
      spark.sql(s"ALTER TABLE $t RENAME TO ${t}_old")
      BqIndex.append(emb, s"${t}_compact") // the (newer, fuller) copy
      val want = spark.table(s"${t}_compact").count()
      TextOps.recoverSwap(spark, t)
      assert(spark.catalog.tableExists(t))
      assert(spark.table(t).count() === want)
      assert(!spark.catalog.tableExists(s"${t}_old"))
      assert(!spark.catalog.tableExists(s"${t}_compact"))
    } finally Seq(t, s"${t}_old", s"${t}_compact")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("crash before the final drop: recoverSwap clears the backup") {
    // mid-swap state B: swap finished all but DROP _old
    val pid = ProcessHandle.current().pid()
    val t = s"swap_crash_b_p$pid"
    Seq(t, s"${t}_old")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    try {
      BqIndex.append(emb.filter(col("vec_id") < 100), s"${t}_old")
      BqIndex.append(emb, t)
      val want = spark.table(t).count()
      TextOps.recoverSwap(spark, t)
      assert(spark.table(t).count() === want)
      assert(!spark.catalog.tableExists(s"${t}_old"))
    } finally Seq(t, s"${t}_old")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("memoIndex heals a crashed swap without rebuilding") {
    // crash state C (table renamed out, no replacement yet): the next
    // memoized-index consumer must restore the backup and serve it —
    // NOT fall into a full rebuild (the build fn throwing proves it)
    val prefix = "graft_heal_test"
    val t = TextOps.memoIndex(spark, prefix, sf) { tt =>
      BqIndex.write(emb, tt)
    }
    try {
      val want = spark.table(t).count()
      spark.sql(s"ALTER TABLE $t RENAME TO ${t}_old")
      val t2 = TextOps.memoIndex(spark, prefix, sf) { _ =>
        fail("crashed swap must heal from _old, not rebuild")
      }
      assert(t2 === t)
      assert(spark.table(t).count() === want)
      assert(!spark.catalog.tableExists(s"${t}_old"))
    } finally Seq(t, s"${t}_old", s"${t}_ok")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("compactIndex serializes with holders of the build lock") {
    // ADVICE r12: the swap must run under bm25BuildLock so in-process
    // memoized-index consumers (which all enter through memoIndex's
    // synchronized block) can never observe a mid-swap state
    val pid = ProcessHandle.current().pid()
    val t = s"compact_lock_p$pid"
    Seq(t, s"${t}_compact")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    try {
      BqIndex.append(emb, t)
      val started = new java.util.concurrent.CountDownLatch(1)
      val release = new java.util.concurrent.CountDownLatch(1)
      val holder = new Thread(() =>
        TextOps.bm25BuildLock.synchronized {
          started.countDown()
          release.await()
        })
      holder.start()
      started.await()
      @volatile var done = false
      val compactor = new Thread(() => {
        TextOps.compactIndex(spark, t)
        done = true
      })
      compactor.start()
      compactor.join(500)
      assert(!done, "compactIndex ran while the build lock was held")
      release.countDown()
      compactor.join(120000)
      holder.join(10000)
      assert(done)
      assert(dataFiles(t).size === 8)
    } finally Seq(t, s"${t}_compact")
      .foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("every bucketed index family compacts: rows, files, probe parity") {
    // r13 (VERDICT r12 #6): ONE parameterized pass over every
    // append-grown bucketed layout the library maintains — band index,
    // ANN postings + payload twin, IVF cells, PQ codes, BQ signatures,
    // SQ codes (BM25 postings have their own probe-parity test above).
    // Each is grown through two appends (real fragmentation), then
    // compacted, then checked: content row-identical, one file per
    // bucket, and the family's own probe unchanged output-for-output.
    val pid = ProcessHandle.current().pid()
    val base = s"cmf_p$pid"
    val docs = Tables(spark, sf, "documents")
    val bandT = s"${base}_band"; val annT = s"${base}_ann"
    val ivfT = s"${base}_ivf"; val pqT = s"${base}_pq"
    val bqT = s"${base}_bq"; val sqT = s"${base}_sq"
    val compactables =
      Seq(bandT, annT, s"${annT}_vec", ivfT, pqT, bqT, sqT)
    val all = compactables ++ Seq(s"${annT}_cfg", s"${ivfT}_cent",
      s"${pqT}_cb", s"${bqT}_cfg", s"${sqT}_cfg") ++
      compactables.flatMap(t => Seq(s"${t}_compact", s"${t}_old"))
    all.foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
    try {
      def halfE(m: Int) = emb.filter(pmod(col("vec_id"), lit(2)) === m)
      def halfD(m: Int) = docs.filter(pmod(col("doc_id"), lit(2)) === m)
      TextOps.appendBandIndex(halfD(0), bandT)
      TextOps.appendBandIndex(halfD(1), bandT)
      AnnIndex.append(halfE(0), annT)
      AnnIndex.append(halfE(1), annT)
      IvfIndex.write(emb.filter(col("vec_id") < 30), ivfT)
      IvfIndex.append(emb.filter(col("vec_id") >= 30), ivfT)
      PqIndex.write(emb, pqT)
      PqIndex.append(emb.withColumn("vec_id", col("vec_id") + 1000L), pqT)
      BqIndex.append(halfE(0), bqT)
      BqIndex.append(halfE(1), bqT)
      SqIndex.append(halfE(0), sqT)
      SqIndex.append(halfE(1), sqT)
      val pqQueries = emb.filter(col("vec_id") < 3)
        .select(col("vec_id"),
          expr("coalesce(CAST(embedding AS ARRAY<DOUBLE>), " +
            "array_repeat(CAST(0 AS DOUBLE), 64))").as("v"))
      def strings(df: org.apache.spark.sql.DataFrame): Seq[String] =
        df.collect().map(_.toString).sorted.toSeq
      val probes: Map[String, () => Seq[String]] = Map(
        annT -> (() => strings(AnnIndex.topK(spark, annT, _ < 10, 3))),
        ivfT -> (() => strings(IvfIndex.topK(spark, ivfT, _ < 10, 3))),
        pqT -> (() => strings(PqIndex.topK(spark, pqT, pqQueries, 3))),
        bqT -> (() => strings(BqIndex.topK(spark, bqT, s"${annT}_vec",
          _ < 10, 3))),
        sqT -> (() => strings(SqIndex.topK(spark, sqT, _ < 10, 3))))
      val probesBefore = probes.map { case (k, p) => k -> p() }
      probesBefore.values.foreach(p => assert(p.nonEmpty))
      val rowsBefore = compactables
        .map(t => t -> strings(spark.table(t))).toMap
      import org.apache.spark.sql.catalyst.TableIdentifier
      compactables.foreach { t =>
        val n = spark.sessionState.catalog
          .getTableMetadata(TableIdentifier(t)).bucketSpec.get.numBuckets
        assert(dataFiles(t).size > n, s"$t not fragmented before compact")
        TextOps.compactIndex(spark, t)
        // ≤ n: an EMPTY bucket writes no file (one band_key bucket is
        // unpopulated at this corpus size) — the guarantee is at most
        // one file per bucket, not a file for every bucket
        assert(dataFiles(t).size <= n, s"$t files after compact")
        assert(strings(spark.table(t)) === rowsBefore(t), s"$t content")
      }
      probes.foreach { case (k, p) =>
        assert(p() === probesBefore(k), s"$k probe after compact")
      }
    } finally all.foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))
  }

  test("indexFileHealth gauges append pressure; compaction resets it") {
    val pid = ProcessHandle.current().pid()
    val t = s"health_spec_p$pid"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"DROP TABLE IF EXISTS ${t}_compact")
    try {
      (0 to 5).foreach { m =>
        BqIndex.append(emb.filter(pmod(col("vec_id"), lit(6)) === m), t)
      }
      val grown = TextOps.indexFileHealth(spark, t)
      assert(grown.buckets === 8)
      // six appends, each writing up to one file per bucket
      assert(grown.filesPerBucket > 4.0, grown.toString)
      assert(grown.needsCompaction())
      TextOps.compactIndex(spark, t)
      val compacted = TextOps.indexFileHealth(spark, t)
      assert(compacted.buckets === 8)
      assert(compacted.files === 8L, compacted.toString)
      assert(compacted.filesPerBucket === 1.0)
      assert(!compacted.needsCompaction())
      // the gauge agrees with a direct listing
      assert(compacted.files === dataFiles(t).size.toLong)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_compact")
    }
  }

  test("compaction refuses a non-bucketed table") {
    val pid = ProcessHandle.current().pid()
    val t = s"compact_plain_p$pid"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    try {
      emb.limit(10).write.saveAsTable(t)
      val e = intercept[IllegalArgumentException] {
        TextOps.compactIndex(spark, t)
      }
      assert(e.getMessage.contains("no bucket spec"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
