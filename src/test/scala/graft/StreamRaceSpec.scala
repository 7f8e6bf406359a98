package graft

import org.scalatest.funsuite.AnyFunSuite

/** A REAL STREAMING INGEST IN A SECOND JVM racing parent maintenance:
  * TwoProcessWalkSpec proves the BATCH verb algebra across processes;
  * this spec runs the deployment's other long-lived shape — the
  * ledgered streaming ingest (checkpoint + replay ledger + admission
  * gate + audit sinks) as its OWN process draining a feed the parent
  * grows round by round, every micro-batch's member appends
  * contending on the shared cross-process build lock with the
  * parent's own family maintenance (appends / compactions / deletes /
  * vacuums — the ChildStorm mix, inverted: the STREAM is now the
  * child). The child finishes by REMEDIATING its quarantine — the
  * operator verb under cross-process contention — and self-audits
  * (quarantine reconciliation, heal counts, healed-row probes, fsck
  * on both members). Gates: child exit 0 with the exact expected
  * counts, parent family fsck Nil, and PROVEN temporal overlap (child
  * ingest stamps inside the parent's verb span and vice versa).
  */
class StreamRaceSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private val addOpensPkgs = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")

  test("a forked streaming ingest (ledger + gate + sinks) survives " +
      "parent maintenance contention, remediates its quarantine, and " +
      "both sides audit clean with proven overlap") {
   ForkedSuites.gate.synchronized {
    val rounds = 4
    val childBase = s"sr_child_p$pid"
    val parentT = s"sr_parent_p$pid"
    val parentDocs = parentT + "_docs"
    val childTables = Seq(s"${childBase}_band", s"${childBase}_band_del",
      s"${childBase}_bm25", s"${childBase}_bm25_del",
      s"${childBase}_bm25_docs",
      s"${childBase}_hashes", s"${childBase}_ledger",
      s"${childBase}_quarantine", s"${childBase}_admission")
    val parentTables = Seq(parentT, parentDocs, s"${parentT}_del")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // pre-clean BOTH families' catalog entries and locations, plus the
    // child's checkpoint (a crashed previous run of this pid would
    // wedge the child's CTAS or replay stale batches)
    (childTables ++ parentTables).foreach { x =>
      spark.sql(s"DROP TABLE IF EXISTS $x")
      val p = new org.apache.hadoop.fs.Path(wh, x.toLowerCase)
      if (fs.exists(p)) fs.delete(p, true)
    }
    val ck = new org.apache.hadoop.fs.Path(wh,
      childBase.toLowerCase + "_ck")
    if (fs.exists(ck)) fs.delete(ck, true)

    val feed = java.nio.file.Files
      .createTempDirectory("graft_srace").toString
    val out = java.nio.file.Files.createTempFile("graft_srace", ".log")
    val javaBin = sys.props("java.home") + "/bin/java"
    val cmd: Seq[String] = Seq(javaBin) ++
      addOpensPkgs.flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED")) ++
      Seq("-Xmx2g", "-Dspark.ui.enabled=false",
        "-Dfile.encoding=UTF-8",
        "-cp", sys.props("java.class.path"),
        "graft.ChildStream", childBase, feed, rounds.toString)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(out.toFile)
    val child = pb.start()
    val parentVerbs =
      scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      val sp = spark
      import sp.implicits._
      def log() = new String(
        java.nio.file.Files.readAllBytes(out), "UTF-8")
      // the ChildStorm verb mix on the parent's OWN family — every
      // verb takes the shared lock the child's micro-batch holds.
      // `k` keeps every iteration's appended ids unique (the wait
      // loop below repeats the mix until the child's batch lands)
      var k = 0
      def parentRound(): Unit = {
        k += 1
        val docs = (1L to 20L).map(i =>
          ((k * 1000 + i).toLong,
            s"tok${i % 7} tok${(i + 1) % 7} alpha beta storm$k"))
          .toDF("doc_id", "text")
        graft.operators.TextOps.appendBm25Postings(docs, parentT)
        parentVerbs += System.currentTimeMillis()
        if (k % 2 == 0) {
          graft.operators.TextOps.compactIndex(spark, parentT)
          parentVerbs += System.currentTimeMillis()
        }
        if (k % 3 == 0) {
          graft.operators.TextOps.deleteBm25Docs(spark, parentT,
            Seq((k * 1000 + 1).toLong).toDF("doc_id"))
          parentVerbs += System.currentTimeMillis()
        }
      }
      (1 to rounds).foreach { r =>
        // grow the feed, release the child, contend while it ingests
        ChildStream.roundDocs(spark, r).coalesce(1)
          .write.mode("append").parquet(s"$feed/documents.parquet")
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(feed, s"go_$r"))
        val done = java.nio.file.Paths.get(feed, s"done_$r")
        // generous: under a full parallel test run the child may wait
        // out long parent lock holds (it raises its own lock timeout
        // to 180 s), and round 1 also absorbs its session spin-up
        val deadline = System.currentTimeMillis() + 360000L
        parentRound() // at least one contended verb per child batch
        while (!java.nio.file.Files.exists(done)) {
          assert(child.isAlive, s"child died: ${log().takeRight(3000)}")
          assert(System.currentTimeMillis() < deadline,
            s"round $r never finished: ${log().takeRight(2000)}")
          parentRound()
        }
      }
      assert(child.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
        "child did not finish in time")
      val text = log()
      assert(child.exitValue() === 0, text.takeRight(3000))
      assert(text.contains(
        s"CHILD_OK rounds=$rounds healed=$rounds remaining=$rounds " +
          "fsck=0"), text.takeRight(2000))

      // the parent's own family audits clean after the contention
      assert(graft.operators.TextOps.bm25Family(parentT).fsck(spark).isEmpty)

      // PROVEN overlap on the shared wall clock: child ingest stamps
      // inside the parent's verb span, parent verbs inside the
      // child's ingest span
      val childTimes = text.linesIterator
        .filter(_.startsWith("W ")).map(_.split(" ", 3)(1).toLong)
        .toSeq
      assert(childTimes.size === rounds)
      val childIn = childTimes
        .count(t => t > parentVerbs.min && t < parentVerbs.max)
      val parentIn = parentVerbs
        .count(t => t > childTimes.min && t < childTimes.max)
      assert(childIn >= 2,
        s"only $childIn child batches inside the parent span")
      assert(parentIn >= 2,
        s"only $parentIn parent verbs inside the child span")
    } finally {
      if (child.isAlive) child.destroyForcibly()
      (childTables ++ parentTables).foreach { x =>
        spark.sql(s"DROP TABLE IF EXISTS $x")
        val p = new org.apache.hadoop.fs.Path(wh, x.toLowerCase)
        if (fs.exists(p)) fs.delete(p, true)
      }
      if (fs.exists(ck)) fs.delete(ck, true)
      java.nio.file.Files.deleteIfExists(out)
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(feed))
      val paths =
        try {
          import scala.jdk.CollectionConverters._
          walk.sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.toList
        } finally walk.close()
      paths.foreach(java.nio.file.Files.deleteIfExists(_))
    }
   }
  }
}
