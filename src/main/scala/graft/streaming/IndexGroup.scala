package graft.streaming

import graft.operators.{AnnIndex, BqIndex, IndexFamily, IvfIndex, PqIndex,
  SqIndex}
import graft.operators.TextOps
import graft.operators.TextOps.{FoldGuard, MaintenancePolicy}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One stored index family inside an [[IndexGroup]]: the family's
  * lifecycle descriptor plus what only the group needs — the tables
  * whose loss resets the ingest loop (`ingestTables` — tombstone and
  * hold siblings deliberately outside, they survive a reset) and the
  * upsert binding the CDC stream and the quarantine heal write
  * through.
  */
final case class GroupMember(
    family: IndexFamily,
    ingestTables: Seq[String],
    upsert: DataFrame => Unit) {
  def table: String = family.table

  /** The unattended per-batch pass of the ingest/upsert loops: the
    * family's maintenance policy pass WITHOUT its drift gauge (an
    * O(index) job for an operator pass, not for every arriving
    * micro-batch), folds anchored. */
  def maintainBatch(s: SparkSession, p: MaintenancePolicy): Unit =
    TextOps.maintainIndex(s, family.members, family.delTable,
      family.idCol, p, guard = FoldGuard.Anchor)
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
  * settable value is its base. The two kinds differ in exactly two
  * places, each a field:
  *   - `hashStore`: documents dedup by content through `<base>_hashes`
  *     (backed up with the group, and the ingest-side quarantine heal
  *     takes the ingest door's trimmings); vectors have none;
  *   - `skipAbsent`: the vector observe/heal verbs (describe, fsck,
  *     repair, maintain) skip member families this deployment does not
  *     store; the document ones visit both members (the per-family
  *     verbs answer for an absent table, e.g. a crashed swap).
  * Only vector groups hold quantizer families (`quantized`), so only
  * they accept a `refreshWith` corpus for the drift leg.
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
    val skipAbsent: Boolean) {
  def families: Seq[String] = members.map(_.table)
  def quantized: Boolean = members.exists(_.family.quantized)
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
    * postings (with their `_docs` member), the `_hashes` exact-dedup
    * store, the `_ups` / `_dels` CDC streams, markers
    * `<base>_dbakok_<tag>`. */
  def documents(base: String): IndexGroup = {
    val band = s"${base}_band"
    val bm25 = s"${base}_bm25"
    new IndexGroup("documents", base,
      Seq(
        GroupMember(TextOps.bandFamily(band), Seq(band),
          b => TextOps.upsertBandDocs(b.sparkSession, band, b)),
        GroupMember(TextOps.bm25Family(bm25), Seq(bm25, s"${bm25}_docs"),
          b => TextOps.upsertBm25Docs(b.sparkSession, bm25, b))),
      hashStore = Some(s"${base}_hashes"),
      upsertStream = s"${base}_ups", deleteStream = s"${base}_dels",
      idCol = "doc_id", markerPrefix = s"${base}_dbakok_",
      skipAbsent = false)
  }

  /** The unified VECTOR group at `base`: ANN (band postings + payload),
    * BQ, SQ8, PQ and IVF, the `_vups` / `_vdels` CDC streams, markers
    * `<base>_vbakok_<tag>`. A member upsert (the CDC stream, the
    * quarantine heal) writes under the member's pinned `_cfg` — the
    * config the ingest fixed at build time; an unpinned member takes
    * the per-family defaults. */
  def vectors(base: String): IndexGroup = {
    def cfg(s: SparkSession, t: String): Map[String, Int] =
      TextOps.readIndexConfig(s, t).getOrElse(Map.empty)
    def pinnedDim(s: SparkSession, t: String): Int =
      cfg(s, t).getOrElse("dim", AnnIndex.Dim)
    val ann = s"${base}_ann"
    val bq = s"${base}_bq"
    val sq = s"${base}_sq"
    val pq = s"${base}_pq"
    val ivf = s"${base}_ivf"
    new IndexGroup("vectors", base,
      Seq(
        GroupMember(AnnIndex.family(ann),
          Seq(ann, s"${ann}_vec", s"${ann}_cfg"), b => {
            val c = cfg(b.sparkSession, ann)
            AnnIndex.upsert(b, ann,
              c.getOrElse("nbands", AnnIndex.NBands),
              c.getOrElse("bits", AnnIndex.Bits),
              c.getOrElse("dim", AnnIndex.Dim))
          }),
        GroupMember(BqIndex.family(bq), Seq(bq, s"${bq}_cfg"),
          b => BqIndex.upsert(b, bq, pinnedDim(b.sparkSession, bq))),
        GroupMember(SqIndex.family(sq), Seq(sq, s"${sq}_cfg"),
          b => SqIndex.upsert(b, sq, pinnedDim(b.sparkSession, sq))),
        GroupMember(PqIndex.family(pq), Seq(pq), PqIndex.upsert(_, pq)),
        GroupMember(IvfIndex.family(ivf), Seq(ivf),
          IvfIndex.upsert(_, ivf))),
      hashStore = None,
      upsertStream = s"${base}_vups", deleteStream = s"${base}_vdels",
      idCol = "vec_id", markerPrefix = s"${base}_vbakok_",
      skipAbsent = true)
  }
}
