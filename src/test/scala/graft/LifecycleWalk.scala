package graft

import scala.util.Random

import graft.operators.TextOps
import graft.operators.TextOps.FoldGuard
import org.apache.spark.sql.functions._

/** THE seeded lifecycle verb walk, extracted (r18) so it can run both
  * in-process (LifecycleModelSpec) and as a REAL second JVM
  * (ChildWalk, forked by TwoProcessWalkSpec): a random walk drives one
  * bm25 family through append / upsert / delete / anchored compact /
  * anchored vacuum / snapshot / full+differential backup /
  * copy-restore / promote / prune / EPOCH (r18 arm: repeatable-read
  * as-of scoring inside a pinned tag), while an in-memory shadow
  * model (doc_id → text) tracks what the corpus SHOULD be. After
  * every step the live id set must equal the model's; after every
  * restore — and at the end — the live index must SCORE identically
  * to a fresh index built from the model in one shot, and fsck + the
  * backup/snapshot audits must stay Nil. Failures throw
  * AssertionError carrying the full verb trace. scalatest-free so a
  * bare forked main can run it.
  */
object LifecycleWalk {

  def famOf(x: String): Seq[String] =
    (x +: TextOps.BackupSiblings.map(x + _)) ++
      Seq(s"${x}_compact", s"${x}_old", s"${x}_docs")

  /** Every table a `steps`-step walk on `t` can mint — the caller's
    * cleanup list (the walk itself never drops on exit: the spec
    * asserts post-state first). */
  def allTables(t: String, steps: Int): Seq[String] = {
    val ref = refTable(t)
    val tags = (0 until steps).flatMap(i => Seq(s"s$i", s"b$i"))
    famOf(t) ++ famOf(ref) ++
      tags.flatMap(tg => Seq(s"${t}_mf_$tg", s"${t}_bakok_$tg",
        s"${t}_bak_$tg", s"${t}_docs_bak_$tg", s"${t}_del_bak_$tg") ++
        TextOps.SnapshotCopySiblings.map(sf0 => s"$t${sf0}_bak_mf$tg"))
  }

  private def refTable(t: String): String = t + "ref"

  private def text(id: Long, v: Int): String =
    s"alpha beta token$id word${id % 7} rev$v common spark"

  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  /** Run the walk; returns the verb trace. `onVerb` fires after each
    * completed verb (the two-process spec timestamps interleaving
    * through it). */
  def run(spark: org.apache.spark.sql.SparkSession, t: String,
      seed: Long, steps: Int, onVerb: String => Unit = _ => ())
      : Seq[String] = {
    val sp = spark
    import sp.implicits._
    val ref = refTable(t)
    def drop(tables: String*): Unit =
      tables.foreach(x => spark.sql(s"DROP TABLE IF EXISTS $x"))

    val rng = new Random(seed)
    val model = scala.collection.mutable.Map.empty[Long, String]
    val memo =
      scala.collection.mutable.Map.empty[String, Map[Long, String]]
    var nextId = 1L
    var rev = 0
    val snapTags = scala.collection.mutable.ArrayBuffer.empty[String]
    val bakTags = scala.collection.mutable.ArrayBuffer.empty[String]
    val trace = scala.collection.mutable.ArrayBuffer.empty[String]

    def df(m: Seq[(Long, String)]) = m.toDF("doc_id", "text")
    val qt = Seq((1, "alpha"), (1, "token3"), (2, "word2"),
      (2, "common")).toDF("q_id", "token")

    def liveIds: Set[Long] = {
      val (p, _) = TextOps.liveBm25(spark, t, "")
      p.select("doc_id").distinct().as[Long].collect().toSet
    }
    def scores(tbl: String): Map[(Int, Long), Double] = {
      val (p, s) = TextOps.liveBm25(spark, tbl, "")
      TextOps.bm25ScoreIncr(qt, p, s).collect()
        .map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2))).toMap
    }
    def ctx = s"after [${trace.mkString(" -> ")}]"
    def checkIds(): Unit =
      check(liveIds == model.keySet.toSet, s"id divergence $ctx")
    def sameScores(got: Map[(Int, Long), Double],
        want: Map[(Int, Long), Double], what: String): Unit = {
      check(got.keySet == want.keySet, s"$what keyset $ctx")
      got.foreach { case (k, v) =>
        check(math.abs(v - want(k)) < 1e-9,
          s"$what $k: $v vs ${want(k)} $ctx")
      }
    }
    def checkScores(): Unit = {
      drop(famOf(ref): _*)
      if (model.nonEmpty) {
        TextOps.appendBm25Postings(df(model.toSeq), ref)
        sameScores(scores(t), scores(ref), "live-vs-rebuilt")
        drop(famOf(ref): _*)
      }
    }
    def checkAudits(): Unit = {
      check(TextOps.bm25Family(t).fsck(spark) == Nil,
        s"fsck $ctx")
      bakTags.foreach(tg =>
        check(TextOps.checkBackup(spark, t, tg) == Nil,
          s"bak $tg $ctx"))
      snapTags.foreach(tg =>
        check(TextOps.checkSnapshot(spark, t, tg) == Nil,
          s"snap $tg $ctx"))
    }

    // seed corpus
    val seedDocs = (1L to 12L).map { i => i -> text(i, 0) }
    nextId = 13L
    TextOps.appendBm25Postings(df(seedDocs), t)
    model ++= seedDocs

    (0 until steps).foreach { step =>
      rng.nextInt(11) match {
        case 0 => // append fresh docs
          val n = 1 + rng.nextInt(4)
          val batch = (0 until n).map { _ =>
            val id = nextId; nextId += 1; id -> text(id, 0)
          }
          trace += s"append(${batch.map(_._1).mkString(",")})"
          TextOps.appendBm25Postings(df(batch), t)
          model ++= batch
        case 1 => // upsert: rewrite some existing + maybe one new
          rev += 1
          val existing = rng.shuffle(model.keys.toSeq)
            .take(1 + rng.nextInt(3))
          val fresh =
            if (rng.nextBoolean()) { val id = nextId; nextId += 1
              Seq(id -> text(id, rev)) } else Nil
          val batch = existing.map(id => id -> text(id, rev)) ++ fresh
          trace += s"upsert(${batch.map(_._1).mkString(",")})"
          TextOps.upsertBm25Docs(spark, t, df(batch))
          model ++= batch
        case 2 => // delete some existing (and one never-present id)
          val victims = rng.shuffle(model.keys.toSeq)
            .take(1 + rng.nextInt(3)) :+ (nextId + 1000L)
          trace += s"delete(${victims.mkString(",")})"
          TextOps.deleteBm25Docs(spark, t,
            victims.toDF("doc_id"))
          victims.foreach(model.remove)
        case 3 =>
          trace += "compact"
          TextOps.compactIndex(spark, t, FoldGuard.Anchor)
        case 4 =>
          trace += "vacuum"
          TextOps.vacuumIndex(spark, s"${t}_del",
            Seq(t, s"${t}_docs"), "doc_id",
            FoldGuard.Anchor)
        case 5 =>
          val tg = s"s$step"
          trace += s"snapshot($tg)"
          TextOps.snapshotIndex(spark, t, tg)
          snapTags += tg
          memo(tg) = model.toMap
        case 6 => // backup — differential on the newest tag half the time
          val tg = s"b$step"
          val base =
            if (bakTags.nonEmpty && rng.nextBoolean())
              Some(bakTags.last) else None
          trace += s"backup($tg, base=$base)"
          TextOps.backupIndex(spark, t, tg, base)
          bakTags += tg
          memo(tg) = model.toMap
        case 7 if bakTags.nonEmpty => // copy-restore a random tag
          val tg = bakTags(rng.nextInt(bakTags.size))
          trace += s"restore($tg)"
          // a copy-restore rewrites live file names: every manifest
          // snapshot stops restoring — retire them in system+model
          // (the FoldGuard story covers folds; restore is the
          // documented copy-path fallback that supersedes them)
          snapTags.foreach(TextOps.dropSnapshot(spark, t, _))
          snapTags.clear()
          TextOps.restoreIndex(spark, t, tg)
          model.clear()
          model ++= memo(tg)
          checkScores()
        case 8 if bakTags.nonEmpty => // chain lifecycle: promote,
          // then retire a base nobody borrows from (keep >=1 tag)
          val tg = bakTags.last
          trace += s"promote($tg)"
          TextOps.promoteBackup(spark, t, tg)
          val free = bakTags.filter(x =>
            TextOps.dependentBackups(spark, t, x).isEmpty)
          if (free.size > 1) {
            val victim = free.head
            trace += s"dropBackup($victim)"
            TextOps.dropBackup(spark, t, victim)
            bakTags -= victim
          }
        case 9 if snapTags.size > 2 =>
          trace += "pruneSnapshots(2)"
          TextOps.pruneSnapshots(spark, t, TextOps.Retention.KeepNewest(2))
          val live = TextOps.listSnapshots(spark, t).map(_._1).toSet
          snapTags.filterInPlace(live.contains)
        case 10 => // EPOCH (r18): a repeatable-read pin over the
          // family; scoring AS OF the pin must equal the live scores
          // (no writer inside this epoch), and the pin retires on exit
          trace += "epoch"
          val live = scores(t)
          TextOps.withIndexEpoch(spark, t) { tag =>
            val asOf = TextOps.scoreBm25AsOf(spark, t, tag, qt)
              .collect()
              .map(r => ((r.getInt(0), r.getLong(1)), r.getDouble(2)))
              .toMap
            sameScores(asOf, live, s"epoch($tag)")
          }
          check(!TextOps.listSnapshots(spark, t).map(_._1)
            .exists(TextOps.epochTagOwner(_).isDefined),
            s"epoch pin not retired $ctx")
        case _ =>
          trace += "noop"
      }
      checkIds()
      onVerb(trace.last)
    }
    checkScores()
    checkAudits()
    // end-of-walk restore drill: every still-committed backup tag
    // restores to exactly its recorded model
    bakTags.toSeq.takeRight(2).foreach { tg =>
      trace += s"drill($tg)"
      snapTags.foreach(TextOps.dropSnapshot(spark, t, _))
      snapTags.clear()
      TextOps.restoreIndex(spark, t, tg)
      model.clear(); model ++= memo(tg)
      checkIds(); checkScores()
    }
    check(TextOps.bm25Family(t).fsck(spark) == Nil,
      s"final fsck $ctx")
    trace.toSeq
  }
}
