package graft

import graft.operators.{AnnIndex, BqIndex, IvfIndex, PqIndex, SqIndex, TextOps}
import graft.operators.TextOps.FoldGuard
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AS-OF PROBES (r17, VERDICT item 5): serve a BM25 / banded-ANN
  * score against a manifest snapshot tag WITHOUT restoring it —
  * planned over readSnapshot's file-pinned frames (one-off Exchange
  * accepted: audit path, not serving path). The gate: scoreAsOf(tag)
  * equals the score a RESTORED copy of the same tag serves, for both
  * families — one scoring definition shared by the live and as-of
  * paths, so parity holds by construction and these tests keep it
  * honest. Bonus leg: the as-of probe keeps working across an
  * ANCHORED fold (the FoldGuardSpec contract carried to scoring).
  */
class AsOfProbeSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def famAll(t: String): Seq[String] =
    (t +: TextOps.BackupSiblings.map(t + _)) ++
      Seq(s"${t}_mf_s1", s"${t}_compact", s"${t}_old",
        s"${t}_stats") ++
      TextOps.SnapshotCopySiblings.map(sf => s"$t${sf}_bak_mfs1")

  test("scoreBm25AsOf(tag) equals the restored copy's score — " +
      "before AND after an anchored fold; live moves on unaffected") {
    val t = s"ao_bm25_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        (1L to 20L).map(i => i -> s"spark shuffle join token$i data")
          .toDF("doc_id", "text"), t, s"${t}_stats")
      // a tombstone so the as-of path exercises the `_del` subtract
      TextOps.deleteBm25Docs(spark, t, s"${t}_stats",
        Seq(5L).toDF("doc_id"))
      TextOps.snapshotIndex(spark, t, "s1")
      val qt = Seq((1, "spark"), (1, "shuffle"), (2, "token7"))
        .toDF("q_id", "token")
      def scores(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => ((r.getInt(0), r.getLong(1)),
          r.getDouble(2))).toMap
      val asOf = scores(TextOps.scoreBm25AsOf(spark, t, "s1", qt))
      assert(asOf.nonEmpty)
      assert(!asOf.keySet.exists(_._2 == 5L), "tombstoned doc scored")
      // live moves on: more docs, another delete
      TextOps.appendBm25Postings(
        Seq(21L -> "spark shuffle fresh").toDF("doc_id", "text"),
        t, s"${t}_stats")
      TextOps.deleteBm25Docs(spark, t, s"${t}_stats",
        Seq(1L).toDF("doc_id"))
      val (p2, s2) = TextOps.liveBm25(spark, t, s"${t}_stats")
      val live = scores(TextOps.bm25ScoreIncr(qt, p2, s2))
      assert(live !== asOf)
      // the as-of score is unmoved...
      assert(scores(TextOps.scoreBm25AsOf(spark, t, "s1", qt)) ===
        asOf)
      // ...including across an anchored fold
      TextOps.compactIndex(spark, t, FoldGuard.Anchor)
      assert(scores(TextOps.scoreBm25AsOf(spark, t, "s1", qt)) ===
        asOf)
      // and it equals exactly what a restored copy of the tag serves
      TextOps.restoreSnapshot(spark, t, "s1")
      val (rp, rs) = TextOps.liveBm25(spark, t, s"${t}_stats")
      assert(scores(TextOps.bm25ScoreIncr(qt, rp, rs)) === asOf)
    } finally drop(all: _*)
  }

  test("AnnIndex.scoreAsOf(tag) equals the restored copy's " +
      "scoreExternal, banding under the snapshot's own cfg pins") {
    val a = s"ao_ann_p$pid"
    val all = famAll(a) ++ Seq(s"${a}_vec_mf_s1")
    drop(all: _*)
    try {
      val emb = Tables(spark, sf, "embeddings")
      AnnIndex.write(emb, a, nBands = 4, bits = 2)
      val sp = spark
      import sp.implicits._
      AnnIndex.family(a).delete(spark, Seq(3L).toDF("vec_id"))
      TextOps.snapshotIndex(spark, a, "s1")
      val queries = emb.filter(col("vec_id").isin(1L, 2L))
        .select((col("vec_id") + 1000L).as("q_id"), col("embedding"))
      def scores(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => ((r.getLong(0), r.getLong(1)),
          r.getDouble(2))).toMap
      val asOf = scores(AnnIndex.scoreAsOf(queries, spark, a, "s1"))
      assert(asOf.nonEmpty)
      assert(!asOf.keySet.exists(_._2 == 3L), "tombstoned vec scored")
      // live moves on: another delete shrinks the live candidates
      AnnIndex.family(a).delete(spark, Seq(1L).toDF("vec_id"))
      val live = scores(AnnIndex.scoreExternal(queries, spark, a))
      assert(live !== asOf)
      assert(scores(AnnIndex.scoreAsOf(queries, spark, a, "s1")) ===
        asOf)
      // parity with the restored copy
      TextOps.restoreSnapshot(spark, a, "s1")
      assert(scores(AnnIndex.scoreExternal(queries, spark, a)) ===
        asOf)
    } finally drop(all: _*)
  }

  // ---- the compression ladder (r17 follow-through): every stored
  // ANN family answers "score this query AS OF tag" without a
  // restore, against ITS OWN snapshot meta (quantizer / codebook /
  // packing width), with the same restored-copy parity gate.

  /** External (q_id, embedding) copies of members 1 and 2. */
  private def extQueries: org.apache.spark.sql.DataFrame =
    Tables(spark, sf, "embeddings")
      .filter(col("vec_id").isin(1L, 2L))
      .select((col("vec_id") + 1000L).as("q_id"), col("embedding"))

  test("IvfIndex.scoreAsOf(tag) equals the restored copy's " +
      "scoreExternal, routed by the snapshot's own centroids") {
    val t = s"ao_ivf_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      IvfIndex.write(Tables(spark, sf, "embeddings"), t)
      IvfIndex.family(t).delete(spark, Seq(3L).toDF("vec_id"))
      TextOps.snapshotIndex(spark, t, "s1")
      val queries = extQueries
      def scores(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => ((r.getLong(0), r.getLong(1)),
          r.getDouble(3))).toMap
      val asOf = scores(
        IvfIndex.scoreAsOf(queries, spark, t, "s1", k = 5, nprobe = 2))
      assert(asOf.nonEmpty)
      assert(!asOf.keySet.exists(_._2 == 3L), "tombstoned vec scored")
      // live moves on: member 1 dies, so query 1001 (its exact copy)
      // loses its sim~1 top hit in the LIVE probe only
      IvfIndex.family(t).delete(spark, Seq(1L).toDF("vec_id"))
      val live = scores(
        IvfIndex.scoreExternal(queries, spark, t, k = 5, nprobe = 2))
      assert(live !== asOf)
      assert(scores(IvfIndex.scoreAsOf(queries, spark, t, "s1",
        k = 5, nprobe = 2)) === asOf)
      // ...including across an anchored fold: vacuum folds the
      // tombstones into a full cells rewrite, and the as-of probe
      // keeps serving the tag from the anchor (the bm25 contract,
      // carried to the ladder)
      IvfIndex.family(t).vacuum(spark, FoldGuard.Anchor)
      assert(scores(IvfIndex.scoreAsOf(queries, spark, t, "s1",
        k = 5, nprobe = 2)) === asOf)
      TextOps.restoreSnapshot(spark, t, "s1")
      assert(scores(IvfIndex.scoreExternal(queries, spark, t,
        k = 5, nprobe = 2)) === asOf)
    } finally drop(all: _*)
  }

  test("PqIndex.scoreAsOf(tag) equals the restored copy's topK " +
      "under the snapshot's own codebook") {
    val t = s"ao_pq_p$pid"
    val all = famAll(t) ++ Seq(s"${t}_cb")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      PqIndex.write(Tables(spark, sf, "embeddings"), t)
      PqIndex.family(t).delete(spark, Seq(3L).toDF("vec_id"))
      TextOps.snapshotIndex(spark, t, "s1")
      val queries = extQueries
      // the live topK takes the (vec_id, v) member shape — adapt the
      // SAME external frame through the SAME checked prep scoreAsOf
      // uses, so both paths score identical query vectors
      val liveQ = graft.operators.Ann.prepExternal(queries, 64)
        .select(col("q_id").as("vec_id"), col("qv").as("v"))
      def scores(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => ((r.getLong(0), r.getLong(1)),
          r.getDouble(2))).toMap
      val asOf = scores(PqIndex.scoreAsOf(queries, spark, t, "s1",
        k = 5))
      assert(asOf.nonEmpty)
      assert(!asOf.keySet.exists(_._2 == 3L), "tombstoned vec scored")
      PqIndex.family(t).delete(spark, Seq(1L).toDF("vec_id"))
      val live = scores(PqIndex.topK(spark, t, liveQ, k = 5))
      assert(live !== asOf)
      assert(scores(PqIndex.scoreAsOf(queries, spark, t, "s1",
        k = 5)) === asOf)
      TextOps.restoreSnapshot(spark, t, "s1")
      assert(scores(PqIndex.topK(spark, t, liveQ, k = 5)) === asOf)
    } finally drop(all: _*)
  }

  test("BqIndex.scoreAsOf(tag) equals the restored copies' " +
      "scoreExternal — the payload snapshot composes explicitly") {
    val t = s"ao_bq_p$pid"
    val av = s"ao_bqav_p$pid"
    val all = famAll(t) ++ famAll(av) ++ Seq(s"${av}_vec_mf_s1")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val emb = Tables(spark, sf, "embeddings")
      AnnIndex.write(emb, av, nBands = 4, bits = 2)
      BqIndex.write(emb, t)
      BqIndex.family(t).delete(spark, Seq(3L).toDF("vec_id"))
      TextOps.snapshotIndex(spark, t, "s1")
      TextOps.snapshotIndex(spark, av, "s1")
      val queries = extQueries
      def scores(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => ((r.getLong(0), r.getLong(1)),
          r.getDouble(3))).toMap
      // the exact-rerank payload is ANOTHER family's past, pinned to
      // the same cadence tag by the caller — the composed-audit shape
      val vecsAsOf = TextOps.readSnapshot(spark, av, "s1", "_vec")
      val asOf = scores(BqIndex.scoreAsOf(queries, spark, t, "s1",
        vecsAsOf, k = 5))
      assert(asOf.nonEmpty)
      assert(!asOf.keySet.exists(_._2 == 3L), "tombstoned vec scored")
      BqIndex.family(t).delete(spark, Seq(1L).toDF("vec_id"))
      val live = scores(BqIndex.scoreExternal(queries, spark, t,
        s"${av}_vec", k = 5))
      assert(live !== asOf)
      assert(scores(BqIndex.scoreAsOf(queries, spark, t, "s1",
        vecsAsOf, k = 5)) === asOf)
      TextOps.restoreSnapshot(spark, t, "s1")
      TextOps.restoreSnapshot(spark, av, "s1")
      assert(scores(BqIndex.scoreExternal(queries, spark, t,
        s"${av}_vec", k = 5)) === asOf)
    } finally drop(all: _*)
  }

  test("PqIndex.scoreAsOfPairs composes the IVF and PQ pasts at one " +
      "tag and equals the restored copy's topKPairs") {
    val ivf = s"ao_ivfc_p$pid"
    val t = s"ao_pqp_p$pid"
    val all = famAll(ivf) ++ famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val emb = Tables(spark, sf, "embeddings")
      IvfIndex.write(emb, ivf)
      PqIndex.write(emb, t)
      PqIndex.family(t).delete(spark, Seq(3L).toDF("vec_id"))
      TextOps.snapshotIndex(spark, ivf, "s1")
      TextOps.snapshotIndex(spark, t, "s1")
      val queries = extQueries
      // coarse as-of routing at a wide k = the candidate pairs, both
      // families pinned to the SAME cadence tag
      val candAsOf = IvfIndex.scoreAsOf(queries, spark, ivf, "s1",
        k = 50, nprobe = 2).select("q_id", "vec_id")
      def scores(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => ((r.getLong(0), r.getLong(1)),
          r.getDouble(2))).toMap
      val asOf = scores(PqIndex.scoreAsOfPairs(queries, spark, t,
        "s1", candAsOf, k = 5))
      assert(asOf.nonEmpty)
      assert(!asOf.keySet.exists(_._2 == 3L), "tombstoned vec scored")
      // live moves on on the PQ side only — the composed as-of probe
      // must not see it
      PqIndex.family(t).delete(spark, Seq(1L).toDF("vec_id"))
      val liveQ = graft.operators.Ann.prepExternal(queries, 64)
        .select(col("q_id").as("vec_id"), col("qv").as("v"))
      val live = scores(PqIndex.topKPairs(spark, t, liveQ,
        candAsOf, k = 5))
      assert(live !== asOf)
      assert(scores(PqIndex.scoreAsOfPairs(queries, spark, t, "s1",
        candAsOf, k = 5)) === asOf)
      // restored-copy parity: identical candidates, restored codes
      TextOps.restoreSnapshot(spark, t, "s1")
      assert(scores(PqIndex.topKPairs(spark, t, liveQ, candAsOf,
        k = 5)) === asOf)
    } finally drop(all: _*)
  }

  test("TextOps.nearDupsAsOf(tag) equals the restored band index's " +
      "probe — the contamination audit against the corpus at cut time") {
    val t = s"ao_band_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      val docs = Tables(spark, sf, "documents")
        .filter(col("doc_id") <= 40)
        .select(col("doc_id"), col("text"))
      TextOps.writeBandIndex(docs, t)
      TextOps.bandFamily(t).delete(spark, Seq(3L).toDF("doc_id"))
      TextOps.snapshotIndex(spark, t, "s1")
      // probe batch: exact copies of corpus docs 1-3 in a new id space
      val newDocs = docs.filter(col("doc_id").isin(1L, 2L, 3L))
        .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => ((r.getLong(0), r.getLong(1)),
          r.getDouble(2))).toMap
      val asOf = pairs(TextOps.nearDupsAsOf(spark, t, "s1", newDocs))
      assert(asOf.contains((1001L, 1L)), "exact copy must collide")
      assert(!asOf.keySet.exists(_._2 == 3L),
        "tombstoned doc collided")
      // live moves on: doc 1 leaves the index — the as-of audit must
      // still see it as it stood at the tag
      TextOps.bandFamily(t).delete(spark, Seq(1L).toDF("doc_id"))
      val live = pairs(TextOps.nearDupsAgainstIndex(newDocs,
        TextOps.liveBandIndex(spark, t)))
      assert(!live.contains((1001L, 1L)))
      assert(pairs(TextOps.nearDupsAsOf(spark, t, "s1", newDocs)) ===
        asOf)
      TextOps.restoreSnapshot(spark, t, "s1")
      assert(pairs(TextOps.nearDupsAgainstIndex(newDocs,
        TextOps.liveBandIndex(spark, t))) === asOf)
    } finally drop(all: _*)
  }

  test("SqIndex.scoreAsOf(tag) equals the restored copy's " +
      "scoreExternal at the snapshot's packing width") {
    val t = s"ao_sq_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      SqIndex.write(Tables(spark, sf, "embeddings"), t)
      SqIndex.family(t).delete(spark, Seq(3L).toDF("vec_id"))
      TextOps.snapshotIndex(spark, t, "s1")
      val queries = extQueries
      def scores(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => ((r.getLong(0), r.getLong(1)),
          r.getDouble(2))).toMap
      val asOf = scores(SqIndex.scoreAsOf(queries, spark, t, "s1",
        k = 5))
      assert(asOf.nonEmpty)
      assert(!asOf.keySet.exists(_._2 == 3L), "tombstoned vec scored")
      SqIndex.family(t).delete(spark, Seq(1L).toDF("vec_id"))
      val live = scores(SqIndex.scoreExternal(queries, spark, t,
        k = 5))
      assert(live !== asOf)
      assert(scores(SqIndex.scoreAsOf(queries, spark, t, "s1",
        k = 5)) === asOf)
      TextOps.restoreSnapshot(spark, t, "s1")
      assert(scores(SqIndex.scoreExternal(queries, spark, t,
        k = 5)) === asOf)
    } finally drop(all: _*)
  }

  // ---- refusals: an as-of probe never falls back to live state

  test("every as-of verb refuses an unknown tag, naming the missing " +
      "manifest") {
    val t = s"ao_none_p$pid"
    val none = spark.emptyDataFrame
    val verbs: Seq[(String, () => Any)] = Seq(
      "AnnIndex.scoreAsOf" -> (() => AnnIndex.scoreAsOf(none, spark, t,
        "nope")),
      "IvfIndex.scoreAsOf" -> (() => IvfIndex.scoreAsOf(none, spark, t,
        "nope", k = 5)),
      "PqIndex.scoreAsOf" -> (() => PqIndex.scoreAsOf(none, spark, t,
        "nope", k = 5)),
      "PqIndex.scoreAsOfPairs" -> (() => PqIndex.scoreAsOfPairs(none,
        spark, t, "nope", none, k = 5)),
      "BqIndex.scoreAsOf" -> (() => BqIndex.scoreAsOf(none, spark, t,
        "nope", none, k = 5)),
      "SqIndex.scoreAsOf" -> (() => SqIndex.scoreAsOf(none, spark, t,
        "nope", k = 5)),
      "TextOps.scoreBm25AsOf" -> (() => TextOps.scoreBm25AsOf(spark, t,
        "nope", none)),
      "TextOps.nearDupsAsOf" -> (() => TextOps.nearDupsAsOf(spark, t,
        "nope", none)))
    verbs.foreach { case (name, run) =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains(s"${t}_mf_nope"),
        s"$name: ${e.getMessage}")
    }
  }

  test("scoreBm25AsOf refuses a snapshot taken while a delete stage " +
      "was pending") {
    val t = s"ao_stage_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        (1L to 10L).map(i => i -> s"spark shuffle token$i")
          .toDF("doc_id", "text"), t, s"${t}_stats")
      // a crashed delete: the write-ahead stage committed, nothing
      // applied (the DeleteSpec crash state A)
      spark.table(t).select("doc_id", "dl").distinct()
        .filter(col("doc_id") === 4L)
        .withColumn("gen", lit(TextOps.TerminalGen))
        .write.saveAsTable(s"${t}_del_stage")
      TextOps.snapshotIndex(spark, t, "s1")
      val qt = Seq((1, "spark")).toDF("q_id", "token")
      val e = intercept[IllegalArgumentException](
        TextOps.scoreBm25AsOf(spark, t, "s1", qt))
      assert(e.getMessage.contains("pending delete stage"))
    } finally drop(all: _*)
  }
}
