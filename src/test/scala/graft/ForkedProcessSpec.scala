package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A REAL second process under the cross-process build lock (r15,
  * VERDICT item 2 — CrossProcessLockSpec simulated foreign lock
  * files; this spec forks an actual child JVM). The child
  * ([[ChildStorm]]) storms its own BM25 family in the SHARED
  * warehouse — appends, compactions, deletes, vacuums — every op
  * contending on the SAME default lock file as this process's own
  * concurrent maintenance. Meanwhile the parent:
  *   - runs its own lock-taking maintenance (append + compact on a
  *     parent-owned family) — cross-process contention resolves by
  *     WAITING, not by refusal or a race;
  *   - probes the child's family DIRECTORY under [[TextOps
  *     .retryingProbe]] — a path-based reader sees each maintenance
  *     swap's rename window as PATH_NOT_FOUND, classified transient.
  * Done-criteria asserted: the child exits 0 with ZERO lost rows
  * (stats match the storm's arithmetic exactly — an append discarded
  * by a racing swap would show here) and a CLEAN fsck after the
  * storm; the parent's contending ops all succeed; probes escape no
  * failure; no lock file is left behind.
  *
  * A second leg forks [[ChildExtConf]]: a session configured only with
  * `spark.sql.extensions=graft.extensions.GraftExtensions` resolves the
  * graft functions, applies the rewrites and plans the native as-of
  * join without graft arming it.
  */
class ForkedProcessSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private val addOpensPkgs = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")

  test("a forked child JVM's maintenance storm serializes with this " +
      "process: no lost rows, clean fsck, probes survive") {
   ForkedSuites.gate.synchronized {
    val rounds = 6
    val childT = s"xfp_child_p$pid"   // owned by the CHILD process
    val parentT = s"xfp_parent_p$pid" // owned by THIS process
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val childDir = new org.apache.hadoop.fs.Path(wh,
      childT.toLowerCase)
    val fs = childDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // pre-clean both families' locations (a previous crashed run of
    // this pid would wedge the child's CTAS)
    Seq(childT, s"${childT}_docs", s"${childT}_del",
      s"${childT}_compact", s"${childT}_old",
      parentT, s"${parentT}_docs").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val p = new org.apache.hadoop.fs.Path(wh, t.toLowerCase)
      if (fs.exists(p)) fs.delete(p, true)
    }
    val out = java.nio.file.Files.createTempFile("graft_child", ".log")
    val javaBin = sys.props("java.home") + "/bin/java"
    val cmd: Seq[String] = Seq(javaBin) ++
      addOpensPkgs.flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED")) ++
      Seq("-Xmx2g", "-Dspark.ui.enabled=false",
        "-Dfile.encoding=UTF-8",
        "-cp", sys.props("java.class.path"),
        "graft.ChildStorm", childT, rounds.toString)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(out.toFile)
    val child = pb.start()
    var parentOps = 0
    var probeHits = 0L
    var probeOks = 0
    try {
      val sp = spark
      import sp.implicits._
      val deadline = System.currentTimeMillis() + 240000L
      var i = 0
      while (child.isAlive) {
        assert(System.currentTimeMillis() < deadline,
          "child JVM did not finish its storm within 240s")
        i += 1
        // the parent's OWN lock-taking maintenance, contending with
        // the child's through the shared lock file
        TextOps.appendBm25Postings(
          Seq((i.toLong, s"parent batch $i alpha")).toDF("doc_id", "text"),
          parentT)
        if (i % 3 == 0) TextOps.compactIndex(spark, parentT)
        parentOps += 1
        // path-based probe of the CHILD's family across its swaps,
        // from its first committed write on: while the child's first
        // (table-creating) append runs, the directory holds only
        // `_temporary`, and a path reader cannot infer a schema from it
        if (fs.exists(new org.apache.hadoop.fs.Path(childDir, "_SUCCESS"))) {
          probeHits = TextOps.retryingProbe(spark, Seq(),
            attempts = 8) {
            spark.read.parquet(childDir.toString)
              .filter(col("token") === "alpha").count()
          }
          probeOks += 1
        }
        Thread.sleep(150L)
      }
      assert(child.waitFor(60, java.util.concurrent.TimeUnit.SECONDS))
      val log = new String(java.nio.file.Files.readAllBytes(out), "UTF-8")
      assert(child.exitValue() === 0, s"child failed:\n${log.takeRight(3000)}")
      val ok = log.linesIterator.find(_.startsWith("CHILD_OK"))
      assert(ok.nonEmpty, log.takeRight(3000))
      // ZERO LOST ROWS: 20 docs appended per round, one deleted every
      // third round — the exact arithmetic, or an append was discarded
      val expected = 20L * rounds - rounds / 3
      assert(ok.get.contains(s"n_docs=$expected"), ok.get)
      // CLEAN FSCK after the storm
      assert(ok.get.contains("fsck=0"), ok.get)
      // the parent's contending maintenance all succeeded, repeatedly
      assert(parentOps >= 3, s"only $parentOps parent ops ran")
      // probes ran against the live-maintained family and none escaped
      assert(probeOks >= 1, "no probe ever ran against the child family")
      assert(probeHits > 0L)
      // nobody left the shared lock behind — poll briefly: parallel
      // suites in this JVM legitimately hold it in passing
      val lockP = new org.apache.hadoop.fs.Path(
        wh + "/_graft_build.lock")
      val lockGone = (1 to 100).exists { _ =>
        if (fs.exists(lockP)) { Thread.sleep(100L); false } else true
      }
      assert(lockGone, "build lock file still present 10s after the storm")
    } finally {
      if (child.isAlive) child.destroyForcibly()
      Seq(parentT, s"${parentT}_docs").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
      // the child's tables live in ITS dead catalog — reclaim files
      Seq(childT, s"${childT}_docs", s"${childT}_del",
        s"${childT}_compact",
        s"${childT}_old").foreach { t =>
        val p = new org.apache.hadoop.fs.Path(wh, t.toLowerCase)
        if (fs.exists(p)) fs.delete(p, true)
      }
      java.nio.file.Files.deleteIfExists(out)
    }
   }
  }

  test("a child JVM configured only with spark.sql.extensions runs " +
      "graft_dot and q_asof_native") {
    val out = java.nio.file.Files.createTempFile("graft_extconf", ".log")
    val cmd: Seq[String] = Seq(sys.props("java.home") + "/bin/java") ++
      addOpensPkgs.flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED")) ++
      Seq("-Xmx1g", "-Dfile.encoding=UTF-8",
        "-cp", sys.props("java.class.path"), "graft.ChildExtConf", sf)
    val child = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(out.toFile).start()
    try {
      assert(child.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
        "child JVM did not finish within 240s")
      val log = new String(java.nio.file.Files.readAllBytes(out), "UTF-8")
      assert(child.exitValue() === 0, s"child failed:\n${log.takeRight(3000)}")
      val ok = log.linesIterator.find(_.startsWith("CHILD_OK"))
      assert(ok.nonEmpty, log.takeRight(3000))
      val asofRows = SparkEntry.queries("q_asof_native")(spark, sf).count()
      assert(ok.get === s"CHILD_OK dot=11.0 rewrite=true " +
        s"asof_rows=$asofRows extra_strategies=0")
    } finally {
      if (child.isAlive) child.destroyForcibly()
      java.nio.file.Files.deleteIfExists(out)
    }
  }
}
