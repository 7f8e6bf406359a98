package graft

import graft.operators.TextOps
import graft.operators.TextOps.FoldGuard
import org.scalatest.funsuite.AnyFunSuite

/** EPOCH-TAG CRASH SWEEP (r18, VERDICT #1): `withIndexEpoch` retires
  * its ephemeral `ep…p<pid>` pin in a `finally` — which never runs on
  * SIGKILL/OOM. A leaked pin used to wedge every default-Refuse batch
  * fold (compact/vacuum refused forever until an operator pruned by
  * hand) and silently accrue anchor bytes on every unattended Anchor
  * fold. The tag encodes its owning pid, so the sweep can tell a
  * crash's leftover from a live reader's pin:
  *   - a REAL process is forked and KILLED -9; an epoch snapshot
  *     owned by its (now genuinely dead) pid must sweep on the next
  *     fold, which proceeds instead of refusing;
  *   - while that process is ALIVE, the same fold still refuses —
  *     liveness, not tag shape, is what clears a pin;
  *   - the TTL backstop catches same-pid-recycled / foreign-host
  *     epochs; ordinary operator-chosen tags never qualify at any
  *     age.
  * The owning-process snapshot is taken by THIS JVM on the forked
  * pid's behalf: test catalogs are per-JVM (in-memory), while a real
  * deployment's shared metastore shows every process the same
  * manifest tables — one catalog holding a dead pid's pin is exactly
  * that state.
  */
class EpochLeakSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def famAll(t: String): Seq[String] =
    (t +: TextOps.BackupSiblings.map(t + _)) ++
      Seq(s"${t}_compact", s"${t}_old")

  private def mkFam(t: String, n: Long = 12L): Unit = {
    val sp = spark
    import sp.implicits._
    TextOps.appendBm25Postings(
      (1L to n).map(i => i -> s"spark shuffle join token$i data")
        .toDF("doc_id", "text"), t, s"${t}_stats")
  }

  private def append(t: String, ids: Seq[Long]): Unit = {
    val sp = spark
    import sp.implicits._
    TextOps.appendBm25Postings(
      ids.map(i => i -> s"spark shuffle join token$i data")
        .toDF("doc_id", "text"), t, s"${t}_stats")
  }

  private def epochTagFor(owner: Long): String =
    "ep" + java.lang.Long.toString(System.nanoTime(), 36) + "p" + owner +
      "h" + TextOps.hostHash

  test("kill -9 mid-epoch: the dead pid's pin refuses folds while " +
      "the process lives, then sweeps on the next fold — which " +
      "proceeds instead of wedging") {
    val t = s"epl_kill_p$pid"
    val all = famAll(t)
    drop(all: _*)
    // a REAL process whose death the sweep must observe — a plain
    // sleep holds no Spark state; the epoch semantics under test are
    // about pid liveness, not what the owner was computing
    val child = new ProcessBuilder("sleep", "300").start()
    val childPid = child.pid()
    var tag: String = null
    try {
      mkFam(t)
      tag = epochTagFor(childPid)
      TextOps.snapshotIndex(spark, t, tag)
      append(t, Seq(13L, 14L))

      // LIVE owner: the fold refuses, naming the tag — an epoch held
      // by a running reader is protection, not debris
      val e = intercept[IllegalStateException] {
        TextOps.compactIndex(spark, t)
      }
      assert(e.getMessage.contains(s"$t/$tag"), e.getMessage)
      assert(TextOps.listSnapshots(spark, t).map(_._1) === Seq(tag))
      // the cadence check shows the pin conflict but NO leak yet
      val stLive = TextOps.bm25Family(t).describe(spark)
      assert(stLive.leakedEpochs === Nil, stLive.leakedEpochs)
      assert(!stLive.due().exists(_.startsWith("sweep-leaked-epochs")))
      // and the gauge prices it as an intentional snapshot
      val compLive = TextOps.storageBreakdown(spark, t)
        .where(org.apache.spark.sql.functions.col("tag") === tag)
        .select("component").collect().map(_.getString(0)).toSet
      assert(compLive === Set("snapshot"), compLive)

      // the owner dies hard — finally never ran, the pin is leaked
      child.destroyForcibly()
      assert(child.waitFor(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(!ProcessHandle.of(childPid).isPresent ||
        !ProcessHandle.of(childPid).get.isAlive)

      // due() names the leak BEFORE any fold trips over it...
      val stDead = TextOps.bm25Family(t).describe(spark)
      assert(stDead.leakedEpochs === Seq(s"$t/$tag"),
        stDead.leakedEpochs)
      assert(stDead.due().exists(v =>
        v.startsWith("sweep-leaked-epochs:") && v.contains(tag)),
        stDead.due().toString)
      // ...and the gauge reclassifies the pin as debris
      val compDead = TextOps.storageBreakdown(spark, t)
        .where(org.apache.spark.sql.functions.col("tag") === tag)
        .select("component").collect().map(_.getString(0)).toSet
      assert(compDead === Set("debris"), compDead)

      // the next fold under the DEFAULT guard sweeps the pin and
      // proceeds — the crash cannot wedge batch maintenance
      TextOps.compactIndex(spark, t)
      assert(TextOps.listSnapshots(spark, t) === Nil)
      assert(TextOps.bm25Family(t).fsck(spark) === Nil)
      assert(TextOps.bm25Family(t).describe(spark).leakedEpochs === Nil)
    } finally {
      if (child.isAlive) child.destroyForcibly()
      if (tag != null) TextOps.dropSnapshot(spark, t, tag)
      drop(all: _*)
    }
  }

  test("an UNATTENDED Anchor fold sweeps a leaked epoch instead of " +
      "billing anchor bytes to a dead reader") {
    val t = s"epl_anchor_p$pid"
    val all = famAll(t)
    drop(all: _*)
    val child = new ProcessBuilder("sleep", "300").start()
    val childPid = child.pid()
    var tag: String = null
    try {
      mkFam(t)
      tag = epochTagFor(childPid)
      TextOps.snapshotIndex(spark, t, tag)
      append(t, Seq(13L, 14L))
      child.destroyForcibly()
      assert(child.waitFor(30, java.util.concurrent.TimeUnit.SECONDS))
      // streaming self-maintenance folds run Anchor unattended: the
      // leaked pin must be swept, not silently copied into an anchor
      // nobody will ever drop
      TextOps.compactIndex(spark, t, FoldGuard.Anchor)
      assert(TextOps.listSnapshots(spark, t) === Nil)
      assert(TextOps.listAnchors(spark, t) === Nil)
    } finally {
      if (child.isAlive) child.destroyForcibly()
      if (tag != null) TextOps.dropSnapshot(spark, t, tag)
      drop(all: _*)
    }
  }

  test("TTL backstop: an over-age epoch sweeps even with a live pid " +
      "(pid recycling / foreign host); a fresh live epoch and an " +
      "ordinary named tag never sweep") {
    val t = s"epl_ttl_p$pid"
    val all = famAll(t)
    drop(all: _*)
    var ownTag: String = null
    try {
      mkFam(t)
      // an ordinary operator tag — old or not, never epoch debris
      TextOps.snapshotIndex(spark, t, "keepme")
      // our OWN live epoch pin
      ownTag = epochTagFor(pid)
      TextOps.snapshotIndex(spark, t, ownTag)
      // real clock, default TTL: nothing of OURS sweeps (pid alive,
      // fresh) — the sweep is scoped to this family so a parallel
      // suite's genuine debris can't bleed into the assertion
      assert(TextOps.sweepLeakedEpochs(spark, Some(t)) === Nil)
      assert(TextOps.listSnapshots(spark, t).map(_._1).toSet ===
        Set("keepme", ownTag))
      // an injected future clock ages the epoch past the default
      // 24 h TTL even though its pid lives; the named tag still
      // survives — TTL is an EPOCH rule, not a snapshot rule
      val future = System.currentTimeMillis() + 100L * 3600 * 1000
      val swept = TextOps.sweepLeakedEpochs(spark, Some(t), future)
      assert(swept.exists(_.contains(s"$t/$ownTag")), swept)
      assert(TextOps.listSnapshots(spark, t).map(_._1) ===
        Seq("keepme"))
      // isLeakedEpoch unit row: ordinary tags never parse as epochs
      assert(TextOps.epochTagOwner("keepme") === None)
      assert(TextOps.epochTagOwner("snap2024") === None)
      assert(TextOps.epochTagOwner(ownTag) === Some(pid))
    } finally {
      TextOps.dropSnapshot(spark, t, "keepme")
      if (ownTag != null) TextOps.dropSnapshot(spark, t, ownTag)
      drop(all: _*)
    }
  }

  test("a FOREIGN host's epoch pin never dead-pid-sweeps (late r18, " +
      "review): on a shared warehouse its pid is only answerable on " +
      "its own host — it ages out by TTL alone; this host's dead pid " +
      "still sweeps; a host-less named snapshot is never swept") {
    val t = s"epl_host_p$pid"
    val all = famAll(t)
    // an operator's named snapshot that merely looks like a
    // host-less epoch tag: not an epoch, never swept
    val named = "epoch2p999999999"
    drop(all: _*)
    try {
      mkFam(t)
      val deadPid = 999999999L // outside this host's pid space
      val otherHost =
        if (TextOps.hostHash == "abc123") "def456" else "abc123"
      val foreign = "ep" +
        java.lang.Long.toString(System.nanoTime(), 36) +
        s"p${deadPid}h$otherHost"
      val ours = "ep" +
        java.lang.Long.toString(System.nanoTime(), 36) +
        s"p${deadPid}h${TextOps.hostHash}"
      Seq(foreign, ours, named)
        .foreach(TextOps.snapshotIndex(spark, t, _))
      // parsing: both epoch tags carry the same owner pid
      assert(TextOps.epochTagOwner(foreign) === Some(deadPid))
      assert(TextOps.epochTagOwner(ours) === Some(deadPid))
      assert(TextOps.epochTagOwner(named) === None)
      // real clock: OUR dead pid sweeps; the foreign host's pin
      // survives (its pid may be live THERE), and so does the
      // named snapshot
      val swept = TextOps.sweepLeakedEpochs(spark, Some(t))
      assert(swept.exists(_.contains(s"$t/$ours")), swept)
      assert(!swept.exists(_.contains(s"$t/$named")), swept)
      assert(!swept.exists(_.contains(s"$t/$foreign")), swept)
      assert(TextOps.listSnapshots(spark, t).map(_._1).sorted ===
        Seq(foreign, named).sorted)
      // the TTL backstop still reclaims the foreign pin eventually —
      // never the named snapshot, whatever its age
      val future = System.currentTimeMillis() + 100L * 3600 * 1000
      val swept2 = TextOps.sweepLeakedEpochs(spark, Some(t), future)
      assert(swept2.exists(_.contains(s"$t/$foreign")), swept2)
      assert(TextOps.listSnapshots(spark, t).map(_._1) === Seq(named))
      // freshly-minted tags carry this host's hash
      assert(TextOps.epochTagParts(TextOps.epochTag())
        .exists(_._2.contains(TextOps.hostHash)))
    } finally {
      TextOps.dropSnapshot(spark, t, named)
      drop(all: _*)
    }
  }

  test("lease renewal (r19, VERDICT #1): a FOREIGN-host holder " +
      "renewing past the TTL survives the sweep; one that stops " +
      "renewing is swept") {
    val t = s"epl_lease_p$pid"
    val all = famAll(t)
    drop(all: _*)
    val s2 = spark.newSession()
    s2.conf.set("graft.epoch.ttlMs", "1500")
    try {
      mkFam(t)
      // a pin minted on ANOTHER host whose pid happens to be absent
      // here — pre-lease, only the TTL protected it, and a reader
      // outliving the TTL was falsely swept
      val deadHerePid = 999999999L
      val otherHost =
        if (TextOps.hostHash == "abc123") "def456" else "abc123"
      val foreign = "ep" +
        java.lang.Long.toString(System.nanoTime(), 36) +
        s"p${deadHerePid}h$otherHost"
      TextOps.snapshotIndex(spark, t, foreign)
      // the foreign holder heartbeats on a sub-TTL cadence (the spec
      // plays its renewal thread — a second JVM's withEpochLease does
      // exactly these calls); the pin must outlive MANY TTLs
      val until = System.currentTimeMillis() + 4000L
      while (System.currentTimeMillis() < until) {
        TextOps.renewEpochLease(s2, foreign)
        assert(TextOps.sweepLeakedEpochs(s2, Some(t)) === Nil,
          "a renewing foreign holder was swept")
        Thread.sleep(300L)
      }
      assert(TextOps.listSnapshots(spark, t).map(_._1) ===
        Seq(foreign))
      // the holder stops renewing (crash / partition): the pin ages
      // out by the same TTL as before — the lease never makes a
      // leak immortal
      Thread.sleep(2000L)
      val swept = TextOps.sweepLeakedEpochs(s2, Some(t))
      assert(swept.exists(_.contains(s"$t/$foreign")), swept)
      assert(TextOps.listSnapshots(spark, t) === Nil)
    } finally {
      s2.conf.unset("graft.epoch.ttlMs")
      drop(all: _*)
    }
  }

  test("lease renewal: withIndexEpoch's own heartbeat keeps a live " +
      "scope serving past the TTL (same-host), and retires the lease " +
      "file on the way out") {
    val t = s"epl_hb_p$pid"
    val all = famAll(t)
    drop(all: _*)
    val s2 = spark.newSession()
    s2.conf.set("graft.epoch.ttlMs", "1200")
    s2.conf.set("graft.epoch.leaseRenewMs", "200")
    var held: String = null
    try {
      mkFam(t)
      TextOps.withIndexEpoch(s2, t) { tag =>
        held = tag
        // outlive the TTL inside the scope; the background heartbeat
        // must keep the pin live — pre-lease, this sweep killed a
        // LIVE same-host epoch by pure age
        Thread.sleep(2500L)
        assert(TextOps.sweepLeakedEpochs(s2, Some(t)) === Nil,
          "a heartbeating live epoch was swept past TTL")
        assert(TextOps.listSnapshots(spark, t).map(_._1)
          .contains(tag))
      }
      assert(TextOps.listSnapshots(spark, t) === Nil)
      // the heartbeat file retired with the scope
      assert(TextOps.epochLeaseMtime(s2, held) === 0L,
        "lease file survived its scope")
    } finally {
      s2.conf.unset("graft.epoch.ttlMs")
      s2.conf.unset("graft.epoch.leaseRenewMs")
      drop(all: _*)
    }
  }

  test("lease debris: a crashed holder's orphan lease file (pin " +
      "already gone) is swept by the global sweep once leaked") {
    val s2 = spark.newSession()
    s2.conf.set("graft.epoch.ttlMs", "600000")
    try {
      // same-host DEAD pid: leaked immediately, no TTL wait needed
      val deadPid = Iterator.from(99999, -1).map(_.toLong)
        .find(p => !ProcessHandle.of(p).isPresent).get
      val tag = "ep" +
        java.lang.Long.toString(System.nanoTime(), 36) +
        s"p${deadPid}h${TextOps.hostHash}"
      TextOps.renewEpochLease(s2, tag)
      assert(TextOps.epochLeaseMtime(s2, tag) > 0L)
      val swept = TextOps.sweepLeakedEpochs(s2)
      assert(swept.exists(_.contains(s"orphan epoch lease $tag")),
        swept)
      assert(TextOps.epochLeaseMtime(s2, tag) === 0L)
    } finally s2.conf.unset("graft.epoch.ttlMs")
  }

  test("a live withIndexEpoch still retires cleanly and its probes " +
      "refuse to be swept mid-flight (the normal path is unchanged)") {
    val t = s"epl_live_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      mkFam(t)
      TextOps.withIndexEpoch(spark, t) { tag =>
        assert(TextOps.epochTagOwner(tag) === Some(pid))
        // a sweep INSIDE the epoch must not touch the live pin
        assert(TextOps.sweepLeakedEpochs(spark)
          .forall(!_.contains(s"$t/$tag")))
        assert(TextOps.listSnapshots(spark, t).map(_._1)
          .contains(tag))
      }
      // retired on the way out, as before
      assert(TextOps.listSnapshots(spark, t) === Nil)
    } finally drop(all: _*)
  }
}
