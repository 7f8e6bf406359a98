package graft.operators

import graft.operators.{TextOps => TO}
import graft.operators.IndexFamily.Heal
import graft.operators.TextOps.{FoldGuard, IndexStatus, MaintenancePolicy}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** ONE stored index family's lifecycle — hold, delete, vacuum,
  * maintain, describe, fsck and repair, written once over the tables
  * the family owns — plus the seams every kind's own code goes
  * through: [[frames]], where the family's rows come from (live, or as
  * of a snapshot tag); and the write side — [[rebuild]], [[append]],
  * [[upsert]] (barrier, then append) and [[retrain]] (a frozen
  * quantizer's train-and-swap). The five vector families, the BM25
  * postings and the band index are instances; each kind keeps only its
  * [[IndexFamily.Encoder]] (rows in, member frames out), its training
  * and its scorers plus the data below, so neither the verbs, the
  * reads nor the writes can drift apart per family (REPOSE's
  * one-probe-contract idea, applied to the lifecycle and to both
  * sides of it). BM25's batch write and append keep their own bodies:
  * the batch postings are a different format, and an append also
  * writes the stats write-ahead log.
  *
  * Built only by the per-kind constructors — [[AnnIndex.family]],
  * [[IvfIndex.family]], [[PqIndex.family]], [[BqIndex.family]],
  * [[SqIndex.family]], [[TextOps.bm25Family]], [[TextOps.bandFamily]]
  * — so the only values a caller sets are table names. What a kind
  * supplies:
  *   - `members`: the bucketed data tables — vacuum rewrites them,
  *     maintain compacts them, describe reports their file health,
  *     fsck audits one live generation per id across them;
  *   - `swapSiblings`: the non-member tables a refresh swap-promotes
  *     with the members (IVF `_cent`, PQ `_cb`) — the crashed-swap
  *     audit and heal cover these, the members and the `_del` list;
  *   - `idCol`: the stored id column; `callerIdCol`: the id column
  *     hold/delete/upsert callers pass (band postings store `old_id`
  *     and are addressed by `doc_id`);
  *   - `sidecar`: the (noun, table) sibling without which the stored
  *     rows cannot be audited at all — the `_cfg` pin, the IVF
  *     quantizer, the PQ codebook; its loss is reported alone;
  *   - `statsTable`: the BM25 corpus-stats sibling — describe reports
  *     it, deletes go through its write-ahead log
  *     ([[TextOps.deleteBm25Docs]]) so the stats shrink with the
  *     postings, an as-of read refuses a snapshot that pinned a
  *     pending delete stage, and a stream's member-loss reset owes it
  *     a recount ([[graft.streaming.StreamingOps]]);
  *   - `cfgOf`: the build config describe reports;
  *   - `invariant`: the kind's structural audit over the live rows
  *     (handed a member → live-rows function);
  *   - `heals`: repair heals beyond the two every family shares
  *     (crashed swaps, multi-generation ids), in run order;
  *   - `quantizer`: the drift gauge and retrain-and-swap of a frozen-
  *     quantizer family (IVF, PQ).
  */
final class IndexFamily private[operators] (
    val table: String,
    val members: Seq[String],
    val idCol: String,
    callerIdCol: String,
    swapSiblings: Seq[String] = Nil,
    sidecar: Option[(String, String)] = None,
    val statsTable: Option[String] = None,
    cfgOf: SparkSession => Map[String, Int] = _ => Map.empty,
    invariant: (SparkSession, String => DataFrame) => Seq[String] =
      (_, _) => Nil,
    heals: Seq[IndexFamily.Heal] = Nil,
    quantizer: Option[IndexFamily.Quantizer] = None) {

  def delTable: String = table + "_del"
  def holdTable: String = table + "_hold"
  /** A frozen-quantizer family (IVF, PQ): its maintain takes a
    * `refreshWith` corpus. */
  def quantized: Boolean = quantizer.nonEmpty

  /** Every swap-promoted table, the base first (the group-swap
    * marker's name). */
  private def swapMembers: Seq[String] =
    members ++ swapSiblings :+ delTable

  /** Where the family's rows come from: live (the catalog), or AS OF
    * a `<tag>` manifest snapshot without restoring anything. Every
    * probe of every kind reads through here, so its live and as-of
    * forms share one scorer over the returned [[IndexFamily.Frames]]:
    *   - `member(name)`: the rows that answer probes. Live, the
    *     catalog table minus the `_del` list; as of a tag,
    *     [[TextOps.readSnapshot]]'s file-pinned files minus the tag's
    *     own `_del` list when its manifest holds one
    *     ([[TextOps.exceptTombstonesFrame]]);
    *   - `sidecar(suffix)` (`_cent`, `_cb`, `_stats`): the live table,
    *     or the tag's O(1) meta copy;
    *   - `config`: the `_cfg` pin — [[TextOps.readIndexConfig]] live,
    *     the tag's meta copy as of it; None when the family (or the
    *     tag) has none.
    * An unknown tag refuses here, naming the missing
    * `<table>_mf_<tag>`. A stats family (BM25) also refuses a tag
    * whose manifest pinned a pending delete stage: the serving path
    * folds the stage before scoring, so no served state ever matched
    * the raw staged mix. As-of frames are plain parquet scans (no
    * bucket metadata) — the audit path, not the serving path. */
  private[graft] def frames(s: SparkSession,
      asOf: Option[String] = None): IndexFamily.Frames = asOf match {
    case None => new IndexFamily.Frames(
      m => TO.exceptTombstones(s.table(m), s, delTable, idCol),
      sfx => s.table(table + sfx),
      () => TO.readIndexConfig(s, table))
    case Some(tag) =>
      val mf = s"${table}_mf_$tag"
      require(s.catalog.tableExists(mf),
        s"no manifest $mf: $table has no snapshot under tag $tag")
      val manifest = TO.readManifest(s, mf)
      require(statsTable.isEmpty ||
          manifest.getOrElse(table + "_del_stage", Nil).isEmpty,
        s"snapshot $tag of $table carries a pending delete stage — " +
          "the serving path folds it before scoring; restore the " +
          "snapshot and probe the restored family instead")
      def snap(sfx: String) = TO.readSnapshot(s, table, tag, sfx)
      val del =
        if (manifest.contains(delTable)) Some(snap("_del")) else None
      new IndexFamily.Frames(
        m => TO.exceptTombstonesFrame(snap(m.stripPrefix(table)), del,
          idCol),
        snap,
        () =>
          if (!s.catalog.tableExists(s"${table}_cfg_bak_mf$tag")) None
          else Some(TO.configRow(snap("_cfg").collect()(0))))
  }

  /** REBUILD the family from `rows`: drop the data members and, when
    * the kind pins a config, the `_cfg` pin — never the `_del` list or
    * the `_hold` registry, so terminal deletes and holds outlive every
    * rebuild — then [[append]] at [[TextOps.rebuildGen]]. Rebuilt rows
    * ride at the top surviving finite barrier, not gen 0: below it,
    * every previously upserted id's rebuilt rows would read as
    * superseded and vanish from probes. The pin is written only after
    * the data ([[append]]), so a failed rebuild leaves no pin at all,
    * never one describing data it did not write — probes then fall
    * back to the caller's parameters. A quantizer sibling (`_cent`,
    * `_cb`) is the kind's training to overwrite. */
  private[operators] def rebuild(rows: DataFrame, nBuckets: Int,
      pin: Seq[(String, Int)] = Nil)(
      encoder: => IndexFamily.Encoder): Unit = {
    val s = rows.sparkSession
    TO.withBuildLock(s) {
      (members ++ (if (pin.isEmpty) Nil else Seq(table + "_cfg")))
        .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
      append(rows, TO.rebuildGen(s, delTable), nBuckets, pin)(encoder)
    }
  }

  /** APPEND `rows` at generation `gen`, nothing stored rewritten. Under
    * the build lock: a maintenance swap (compact, vacuum, refresh)
    * lists the files before its rewrite, and an append landing between
    * that listing and the swap would be lost with the old table. In
    * order:
    *   1. the kind's `encoder` is built — under the lock, so it reads
    *      the stored quantizer a refresh may be swapping, and a kind
    *      that needs one refuses before anything is touched;
    *   2. an existing `_cfg` pin must equal `pin` (a mismatched ingest
    *      fails loudly instead of silently forking the family);
    *   3. held ids leave the batch — the hold gate of every write,
    *      append, upsert and retrain;
    *   4. each member frame the encoder returns is saved, stamped with
    *      `gen` and bucketed and sorted on its key, after its orphan
    *      location is swept ([[TextOps.clearOrphanLocation]]);
    *   5. a missing pin is written, after the data it describes.
    * Member rows are doc-local for every kind, so an index grown by
    * appends equals a from-scratch [[rebuild]] over the union (under
    * the same quantizer). */
  private[operators] def append(rows: DataFrame, gen: Long, nBuckets: Int,
      pin: Seq[(String, Int)] = Nil)(
      encoder: => IndexFamily.Encoder): Unit = {
    val s = rows.sparkSession
    TO.withBuildLock(s) {
      val enc = encoder
      val pinned = pin.nonEmpty && s.catalog.tableExists(table + "_cfg")
      if (pinned) TO.ensureIndexConfig(s, table, pin)
      val gated = TO.exceptHeld(rows, s, holdTable, callerIdCol)
      val e = enc.persisted.fold(gated)(_(gated).persist())
      try enc.encode(e).foreach { m =>
        TO.clearOrphanLocation(s, m.table)
        m.rows.withColumn("gen", lit(gen)).write.mode("append")
          .bucketBy(nBuckets, m.bucket).sortBy(m.bucket)
          .saveAsTable(m.table)
      } finally if (enc.persisted.nonEmpty) { e.unpersist(); () }
      if (pin.nonEmpty && !pinned) TO.ensureIndexConfig(s, table, pin)
    }
  }

  /** UPSERT a batch: under the build lock, take the family's next
    * barrier generation, tombstone the batch's caller ids at it, then
    * run the kind's `append` at the same generation — old versions
    * die under the barrier, the new rows ride above it, pure inserts
    * just append; a terminally deleted id stays deleted. O(batch),
    * nothing rewritten. Barrier FIRST: if the append fails, its ids
    * stay dead until a retry, which takes a fresh barrier; appending
    * first could leave two copies of one generation, which fsck
    * cannot tell apart. [[TextOps.upsertBm25Docs]] keeps its own path
    * (it also writes the stats write-ahead log). */
  private[operators] def upsert(s: SparkSession, batch: DataFrame)(
      append: Long => Unit): Unit = TO.withBuildLock(s) {
    val g = TO.nextGen(s, delTable)
    TO.tombstone(s, delTable, batch.select(col(callerIdCol).as(idCol)),
      idCol, gen = g)
    append(g)
  }

  /** RETRAIN-AND-SWAP, a frozen-quantizer family's refresh: under the
    * build lock, heal any crashed swap of the family, run the
    * fold-aware snapshot check (`verb` names the refusal — every
    * member file is rewritten), then [[append]] the encoder `train`
    * returns into the `_compact` replacements (`train` is handed that
    * naming: it trains a fresh quantizer on the hold-gated rows, saves
    * it under the replacement sibling's name and encodes every row
    * under it) at the current top finite generation — the family's
    * upsert barriers survive a refresh and the refreshed corpus is
    * current by definition — and promote siblings and members
    * together through [[TextOps.swapIndexTableGroup]], so a crash at
    * any step converges to the all-new group on recovery and new
    * centers never serve old assignments. */
  private[operators] def retrain(rows: DataFrame, nBuckets: Int,
      guard: FoldGuard, verb: String)(
      train: (String => String) => IndexFamily.Encoder): Unit = {
    val s = rows.sparkSession
    val tmp = (t: String) => t + "_compact"
    val pairs = (swapSiblings ++ members).map(t => t -> tmp(t))
    TO.withBuildLock(s) {
      TO.healCrashedSwaps(s, members ++ swapSiblings)
      TO.guardFold(s, s"$verb of $table", members, guard)
      pairs.foreach { case (_, x) =>
        s.sql(s"DROP TABLE IF EXISTS $x"); TO.clearOrphanLocation(s, x)
      }
      append(rows, TO.rebuildGen(s, delTable), nBuckets)(train(tmp))
      TO.swapIndexTableGroup(s, table, pairs)
    }
  }

  /** Place a LEGAL HOLD on ids (r15 — see [[TextOps.holdIds]]): the
    * `<table>_hold` sibling is an append-only id set filtered at every
    * write/append/upsert/refresh entry of the family, surviving vacuum
    * by construction. Pair with [[delete]] to remove already-stored
    * content. */
  def hold(s: SparkSession, ids: DataFrame): Unit =
    TO.holdIds(s, holdTable, ids, callerIdCol)

  /** TOMBSTONED DELETE: the ids stop answering (and asking) at once —
    * every probe subtracts the family's one tombstone list from every
    * member. O(|ids|), no index rewrite; [[vacuum]] folds the list
    * into the stored files. Deletion is terminal per id (ids are never
    * recycled — the ingest contract). A stats family deletes through
    * the stats write-ahead log (exact n_docs/sum_dl subtraction). */
  def delete(s: SparkSession, ids: DataFrame): Unit = statsTable match {
    case Some(st) => TO.deleteBm25Docs(s, table, st, ids)
    case None => TO.tombstone(s, delTable,
      ids.select(col(callerIdCol).as(idCol)), idCol)
  }

  /** Fold the tombstones into the stored files (every member rewritten
    * without the dead rows, spec-preserving atomic swap) and clear the
    * list — post-vacuum probes pay no anti-join. */
  def vacuum(s: SparkSession, guard: FoldGuard = FoldGuard.Refuse): Unit =
    TO.vacuumIndex(s, delTable, members, idCol, guard)

  /** ONE maintenance policy pass (r14 — see [[TextOps.maintainIndex]]):
    * compacts whichever member outgrew the per-bucket file bound,
    * vacuums/compacts the tombstone list past its thresholds, and for
    * a quantizer family runs the drift leg — above the policy bound it
    * refreshes over `refreshWith` when supplied, else reports
    * `refresh-due` (PQ's gauge needs the exact vectors, so PQ gauges
    * only with `refreshWith`). A family without a quantizer refuses a
    * `refreshWith`. Returns the ops it ran; no-ops when healthy. */
  def maintain(s: SparkSession,
      policy: MaintenancePolicy = MaintenancePolicy(),
      refreshWith: Option[DataFrame] = None,
      guard: FoldGuard = FoldGuard.Refuse): Seq[String] = {
    require(refreshWith.isEmpty || quantized,
      s"maintain: $table has no quantizer to refresh")
    TO.maintainIndex(s, members, delTable, idCol, policy,
      drift = quantizer.flatMap(_.gauge(s, refreshWith)),
      refresh = for (q <- quantizer; e <- refreshWith)
        yield () => q.refresh(e, guard),
      guard = guard)
  }

  /** Operational snapshot (r14 — see [[TextOps.describeIndex]]): member
    * file health, tombstone debt, holds, the family's config (the `_cfg`
    * pins, or the quantizer's shape) and the stats row when it keeps
    * one. Metadata-cheap; never gauges drift. */
  def describe(s: SparkSession): IndexStatus =
    TO.describeIndex(s, members, delTable, cfgOf(s), statsTable)

  /** STRUCTURAL AUDIT (fsck, r14): recompute the family's invariants
    * against production state; empty = healthy. O(index) by design;
    * read-only; run quiesced (a racing swap can produce transient
    * findings). In order: crashed-swap evidence is reported ALONE
    * (content audits against a half-swapped family are meaningless);
    * an absent family is healthy; a missing sidecar is reported alone;
    * then the kind's invariant, then one live generation per id in
    * every member. */
  def fsck(s: SparkSession): Seq[String] = {
    val swaps = TO.swapCrashViolations(s, swapMembers)
    if (swaps.nonEmpty) swaps
    else if (!s.catalog.tableExists(table)) Nil
    else sidecar.filterNot(x => s.catalog.tableExists(x._2)) match {
      case Some((noun, t)) => Seq(s"$noun $t missing")
      case None =>
        val live = frames(s).member
        invariant(s, live) ++ members.filter(s.catalog.tableExists)
          .flatMap(m => TO.multiGenViolations(live(m), idCol))
    }
  }

  /** REPAIR (r15 — VERDICT item 1, "close the fsck loop"): one
    * idempotent pass mapping each fsck violation class to its heal —
    * crashed swap renames recover, multi-generation ids re-barrier at
    * their top live generation, then the kind's own heals. Protocol,
    * under the build lock:
    *   1. audit — a CLEAN family returns Nil having mutated NOTHING;
    *   2. refuse loudly BEFORE touching anything if any violation
    *     matches no heal (default-refuse: an unknown corruption class
    *     must never be "healed" by guesswork, and a partial repair
    *     that fixed the easy half would mask it);
    *   3. run each heal whose class appeared, in order (order is part
    *     of the contract — e.g. BM25 re-barriers before recomputing
    *     stats, because the re-barrier itself changes what the stats
    *     must say);
    *   4. re-audit and THROW if violations remain — repair either
    *     converges in one call or says so, never reports success over
    *     a still-broken family.
    * Returns the descriptions of the heals it ran.
    */
  def repair(s: SparkSession): Seq[String] = TO.withBuildLock(s) {
    val all = Heal(_.startsWith("crashed swap"),
        "recovered crashed swap renames",
        TO.healCrashedSwaps(_, swapMembers)) +:
      Heal(_.contains("live generations"),
        "re-barriered multi-generation ids",
        TO.rebarrierMultiGen(_, members, delTable, idCol)) +: heals
    // iterate to convergence (r16): a heal can REVEAL violations the
    // broken state masked — fsck returns crashed-swap evidence ALONE,
    // so only the post-recovery round can see, say, the stats drift
    // the crash also caused. Each round still refuses on any unknown
    // class BEFORE touching anything further; the bound keeps a
    // non-converging heal from looping.
    val fixed = scala.collection.mutable.ListBuffer.empty[String]
    var v = fsck(s)
    var rounds = 0
    while (v.nonEmpty && rounds < 4) {
      val unmatched = v.filterNot(x => all.exists(_.matches(x)))
      if (unmatched.nonEmpty)
        throw new IllegalStateException(
          "repair: no safe heal for: " + unmatched.mkString("; "))
      all.foreach { h =>
        if (v.exists(h.matches)) { h.run(s); fixed += h.desc; () }
      }
      v = fsck(s)
      rounds += 1
    }
    if (v.nonEmpty)
      throw new IllegalStateException(
        "repair did not converge: " + v.mkString("; "))
    fixed.toList.distinct
  }
}

object IndexFamily {

  /** One read of a family's stored state, live or as of a tag — see
    * [[IndexFamily.frames]]. */
  private[graft] final class Frames(
      val member: String => DataFrame,
      val sidecar: String => DataFrame,
      readConfig: () => Option[Map[String, Int]]) {
    lazy val config: Option[Map[String, Int]] = readConfig()
  }

  /** One member frame of an [[Encoder]]: `rows` land in `table`,
    * bucketed and sorted on `bucket`. */
  private[operators] final case class Member(table: String,
      bucket: String, rows: DataFrame)

  /** A kind's encoder — hold-gated rows in, member frames out. An
    * `encode` that reads its input more than once (ANN's two members,
    * IVF's training and assignment) names the prep in `persisted`:
    * `encode` then reads the prepped rows, persisted until the members
    * are saved. */
  private[operators] final case class Encoder(
      encode: DataFrame => Seq[Member],
      persisted: Option[DataFrame => DataFrame] = None)

  /** A repair heal: the violations it answers, its description in
    * repair's result, and the heal itself. */
  private[operators] final case class Heal(matches: String => Boolean,
      desc: String, run: SparkSession => Unit)

  /** A frozen quantizer's drift leg: the gauge (given the caller's
    * `refreshWith` corpus, None = do not gauge) and the retrain-and-
    * swap refresh over a corpus. */
  private[operators] final case class Quantizer(
      gauge: (SparkSession, Option[DataFrame]) => Option[() => Double],
      refresh: (DataFrame, FoldGuard) => Unit)
}
