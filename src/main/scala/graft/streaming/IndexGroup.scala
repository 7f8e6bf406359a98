package graft.streaming

import graft.operators.{AnnIndex, BqIndex, IvfIndex, PqIndex, SqIndex}
import graft.operators.TextOps
import graft.operators.TextOps.{FoldGuard, IndexStatus, MaintenancePolicy}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One stored index family inside an [[IndexGroup]]: its base table
  * name, the tables whose loss resets the ingest loop
  * (`ingestTables` — tombstone and hold siblings deliberately outside,
  * they survive a reset), and the per-family verbs the group verbs fan
  * out to. The closures only bind the family's table names; the verbs
  * themselves live in [[graft.operators.TextOps]] and the vector
  * family objects.
  */
final case class GroupMember(
    table: String,
    ingestTables: Seq[String],
    hold: (SparkSession, DataFrame) => Unit,
    delete: (SparkSession, DataFrame) => Unit,
    vacuum: (SparkSession, FoldGuard) => Unit,
    // the operator pass: `refreshWith` feeds a quantizer family's
    // drift leg (ignored by families without a quantizer)
    maintain: (SparkSession, MaintenancePolicy, Option[DataFrame],
      FoldGuard) => Seq[String],
    // the unattended per-batch pass of the ingest/upsert loops:
    // metadata-cheap legs only, folds anchored
    maintainBatch: (SparkSession, MaintenancePolicy) => Unit,
    describe: SparkSession => IndexStatus,
    fsck: SparkSession => Seq[String],
    repair: SparkSession => Seq[String],
    upsert: DataFrame => Unit) {
  def holdTable: String = table + "_hold"
  def delTable: String = table + "_del"
}

/** A stream-fed index GROUP: the member families one unified ingest
  * maintains, plus the group-level state that makes them restorable
  * together — the optional content-hash store, the three replay
  * streams (ingest, CDC upserts, CDC deletes; each owns
  * `<stream>_ledger` + the `<stream>_ck` checkpoint), the id column,
  * the admission sinks, and the group backup marker prefix. Every
  * group verb in [[StreamingOps]] reads these fields, so the member
  * list is written down once per kind, here.
  *
  * Only the two constructors below build a group, so a group's only
  * settable value is its base. The two kinds differ in exactly three
  * places, each a field:
  *   - `hashStore`: documents dedup by content through `<base>_hashes`
  *     (backed up with the group, and the ingest-side quarantine heal
  *     takes the ingest door's trimmings); vectors have none;
  *   - `skipAbsent`: the vector observe/heal verbs (describe, fsck,
  *     repair, maintain) skip member families this deployment does not
  *     store; the document ones visit both members (the per-family
  *     verbs answer for an absent table, e.g. a crashed swap);
  *   - `quantized`: only vector groups hold quantizer families, so only
  *     they accept a `refreshWith` corpus for the drift leg.
  */
final class IndexGroup private (
    val kind: String,
    val base: String,
    val members: Seq[GroupMember],
    val hashStore: Option[String],
    val upsertStream: String,
    val deleteStream: String,
    val idCol: String,
    val markerPrefix: String,
    val skipAbsent: Boolean,
    val quantized: Boolean) {
  def families: Seq[String] = members.map(_.table)
  def streams: Seq[String] = Seq(base, upsertStream, deleteStream)
  /** Replay state backed up and snapshotted with the members. */
  def stateTables: Seq[String] =
    hashStore.toSeq ++ streams.map(_ + "_ledger")
  /** The admission sinks' prefixes: the ingest and the CDC upsert
    * stream each keep `<prefix>_quarantine` + `<prefix>_admission`. */
  def sinkPrefixes: Seq[String] = Seq(base, upsertStream)
  def marker(tag: String): String = markerPrefix + tag
  /** The unified ingest's reset-membership list: losing any of these
    * resets the loop (tombstones, holds and audit sinks stay outside). */
  def ingestTables: Seq[String] =
    members.flatMap(_.ingestTables) ++ hashStore
}

object IndexGroup {

  /** The unified DOCUMENT group at `base`: near-dup band index + BM25
    * postings (stats sibling), the `_hashes` exact-dedup store, the
    * `_ups` / `_dels` CDC streams, markers `<base>_dbakok_<tag>`. */
  def documents(base: String): IndexGroup = {
    val band = s"${base}_band"
    val bm25 = s"${base}_bm25"
    val stats = s"${bm25}_stats"
    val anchor = FoldGuard.Anchor
    new IndexGroup("documents", base,
      Seq(
        GroupMember(band, Seq(band),
          hold = TextOps.holdBandDocs(_, band, _),
          delete = TextOps.deleteBandDocs(_, band, _),
          vacuum = TextOps.vacuumBandIndex(_, band, _),
          maintain = (s, p, _, g) => TextOps.maintainBand(s, band, p, g),
          maintainBatch = (s, p) =>
            TextOps.maintainBand(s, band, p, anchor),
          describe = TextOps.describeBand(_, band),
          fsck = TextOps.fsckBand(_, band),
          repair = TextOps.repairBand(_, band),
          upsert = b => TextOps.upsertBandDocs(b.sparkSession, band, b)),
        GroupMember(bm25, Seq(bm25, stats),
          hold = TextOps.holdBm25Docs(_, bm25, _),
          delete = TextOps.deleteBm25Docs(_, bm25, stats, _),
          vacuum = (s, g) => TextOps.vacuumIndex(s, s"${bm25}_del",
            Seq(bm25), "doc_id", g),
          maintain = (s, p, _, g) => TextOps.maintainBm25(s, bm25, p, g),
          maintainBatch = (s, p) =>
            TextOps.maintainBm25(s, bm25, p, anchor),
          describe = TextOps.describeBm25(_, bm25),
          fsck = TextOps.fsckBm25(_, bm25, stats),
          repair = TextOps.repairBm25(_, bm25, stats),
          upsert = b =>
            TextOps.upsertBm25Docs(b.sparkSession, bm25, stats, b))),
      hashStore = Some(s"${base}_hashes"),
      upsertStream = s"${base}_ups", deleteStream = s"${base}_dels",
      idCol = "doc_id", markerPrefix = s"${base}_dbakok_",
      skipAbsent = false, quantized = false)
  }

  /** The unified VECTOR group at `base`: ANN (band postings + payload),
    * BQ, SQ8, PQ and IVF, the `_vups` / `_vdels` CDC streams, markers
    * `<base>_vbakok_<tag>`. A member upsert (the CDC stream, the
    * quarantine heal) writes under the member's pinned `_cfg` — the
    * config the ingest fixed at build time; an unpinned member takes
    * the per-family defaults. */
  def vectors(base: String): IndexGroup = {
    val anchor = FoldGuard.Anchor
    def cfg(s: SparkSession, t: String): Map[String, Int] =
      TextOps.readIndexConfig(s, t).getOrElse(Map.empty)
    def pinnedDim(s: SparkSession, t: String): Int =
      cfg(s, t).getOrElse("dim", AnnIndex.Dim)
    // the per-batch leg of a quantizer family is the bare policy pass:
    // its drift gauge is an O(index) job for an operator pass, not for
    // every arriving micro-batch
    def batchPass(t: String): (SparkSession, MaintenancePolicy) => Unit =
      (s, p) => TextOps.maintainIndex(s, Seq(t), t + "_del", "vec_id", p,
        guard = anchor)
    val ann = s"${base}_ann"
    val bq = s"${base}_bq"
    val sq = s"${base}_sq"
    val pq = s"${base}_pq"
    val ivf = s"${base}_ivf"
    new IndexGroup("vectors", base,
      Seq(
        GroupMember(ann, Seq(ann, s"${ann}_vec", s"${ann}_cfg"),
          hold = AnnIndex.hold(_, ann, _),
          delete = AnnIndex.delete(_, ann, _),
          vacuum = AnnIndex.vacuum(_, ann, _),
          maintain = (s, p, _, g) => AnnIndex.maintain(s, ann, p, g),
          maintainBatch = (s, p) => AnnIndex.maintain(s, ann, p, anchor),
          describe = AnnIndex.describe(_, ann),
          fsck = AnnIndex.fsck(_, ann),
          repair = AnnIndex.repair(_, ann),
          upsert = b => {
            val c = cfg(b.sparkSession, ann)
            AnnIndex.upsert(b, ann,
              c.getOrElse("nbands", AnnIndex.NBands),
              c.getOrElse("bits", AnnIndex.Bits),
              c.getOrElse("dim", AnnIndex.Dim))
          }),
        GroupMember(bq, Seq(bq, s"${bq}_cfg"),
          hold = BqIndex.hold(_, bq, _),
          delete = BqIndex.delete(_, bq, _),
          vacuum = BqIndex.vacuum(_, bq, _),
          maintain = (s, p, _, g) => BqIndex.maintain(s, bq, p, g),
          maintainBatch = (s, p) => BqIndex.maintain(s, bq, p, anchor),
          describe = BqIndex.describe(_, bq),
          fsck = BqIndex.fsck(_, bq),
          repair = BqIndex.repair(_, bq),
          upsert = b =>
            BqIndex.upsert(b, bq, pinnedDim(b.sparkSession, bq))),
        GroupMember(sq, Seq(sq, s"${sq}_cfg"),
          hold = SqIndex.hold(_, sq, _),
          delete = SqIndex.delete(_, sq, _),
          vacuum = SqIndex.vacuum(_, sq, _),
          maintain = (s, p, _, g) => SqIndex.maintain(s, sq, p, g),
          maintainBatch = (s, p) => SqIndex.maintain(s, sq, p, anchor),
          describe = SqIndex.describe(_, sq),
          fsck = SqIndex.fsck(_, sq),
          repair = SqIndex.repair(_, sq),
          upsert = b =>
            SqIndex.upsert(b, sq, pinnedDim(b.sparkSession, sq))),
        GroupMember(pq, Seq(pq),
          hold = PqIndex.hold(_, pq, _),
          delete = PqIndex.delete(_, pq, _),
          vacuum = PqIndex.vacuum(_, pq, _),
          maintain = PqIndex.maintain(_, pq, _, _, _),
          maintainBatch = batchPass(pq),
          describe = PqIndex.describe(_, pq),
          fsck = PqIndex.fsck(_, pq),
          repair = PqIndex.repair(_, pq),
          upsert = PqIndex.upsert(_, pq)),
        GroupMember(ivf, Seq(ivf),
          hold = IvfIndex.hold(_, ivf, _),
          delete = IvfIndex.delete(_, ivf, _),
          vacuum = IvfIndex.vacuum(_, ivf, _),
          maintain = IvfIndex.maintain(_, ivf, _, _, _),
          maintainBatch = batchPass(ivf),
          describe = IvfIndex.describe(_, ivf),
          fsck = IvfIndex.fsck(_, ivf),
          repair = IvfIndex.repair(_, ivf),
          upsert = IvfIndex.upsert(_, ivf))),
      hashStore = None,
      upsertStream = s"${base}_vups", deleteStream = s"${base}_vdels",
      idCol = "vec_id", markerPrefix = s"${base}_vbakok_",
      skipAbsent = true, quantized = true)
  }
}
