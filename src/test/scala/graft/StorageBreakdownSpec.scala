package graft

import graft.operators.TextOps
import graft.operators.TextOps.FoldGuard
import graft.streaming.{IndexGroup, StreamingOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** THE STORAGE GAUGE — one queryable frame per family (and per unified
  * group) that accounts every byte the recovery system owns: live
  * members, physical vs borrowed backup bytes per tag, flat snapshot
  * meta, fold-anchor debt, and crashed-writer debris. The retention
  * verbs (drop/prune/promote) each reclaim a named component; this
  * gauge is what you read BEFORE running them.
  */
class StorageBreakdownSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def byComp(df: org.apache.spark.sql.DataFrame)
      : Map[String, Long] =
    df.groupBy("component").agg(sum("bytes").as("b")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("family gauge: live / backup-own / backup-borrowed / snapshot " +
      "/ anchor / debris all accounted, and physical bytes reconcile") {
    val t = s"sb_bm25_p$pid"
    val all = (t +: TextOps.BackupSiblings.map(t + _)) ++
      Seq(s"${t}_compact", s"${t}_old", s"${t}_docs",
        s"${t}_bak_full", s"${t}_docs_bak_full", s"${t}_del_bak_full",
        s"${t}_bak_diff", s"${t}_docs_bak_diff", s"${t}_del_bak_diff",
        s"${t}_bakok_full", s"${t}_bakok_diff", s"${t}_bak_orphan",
        s"${t}_mf_s1") ++
      TextOps.SnapshotCopySiblings.map(sf0 => s"$t${sf0}_bak_mfs1")
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      TextOps.appendBm25Postings(
        (1L to 40L).map(i => i -> s"spark shuffle join token$i body")
          .toDF("doc_id", "text"), t)
      TextOps.backupIndex(spark, t, "full")
      // ~10% append, then a differential against the full tag
      TextOps.appendBm25Postings(
        (41L to 44L).map(i => i -> s"spark fresh token$i")
          .toDF("doc_id", "text"), t)
      TextOps.backupIndex(spark, t, "diff", Some("full"))
      // a manifest snapshot, then an ANCHORED fold to leave anchor debt
      TextOps.snapshotIndex(spark, t, "s1")
      TextOps.compactIndex(spark, t, FoldGuard.Anchor)
      // crashed-writer debris: a marker-less copy (crashed take)
      spark.sql(s"CREATE TABLE ${t}_bak_orphan AS " +
        s"SELECT * FROM $t LIMIT 5")

      val g = TextOps.storageBreakdown(spark, t)
      val comps = byComp(g)
      assert(comps.keySet === Set("live", "backup", "backup-borrowed",
        "snapshot", "anchor", "debris"))
      assert(comps.values.forall(_ > 0))

      // borrowed bytes are the DIFF tag's by-reference rows and must
      // equal the provenance gauge's price for the full tag
      val borrowed = g.where(col("component") === "backup-borrowed")
        .agg(sum("bytes")).collect()(0).getLong(0)
      val prov = TextOps.backupProvenance(spark, t, "diff")
        .collect { case ("full", _, b) => b }.sum
      assert(borrowed === prov)

      // physical reconciliation: the `backup` component equals what
      // the copies actually hold on disk (borrowed rows EXCLUDED —
      // they are the base's bytes, counted once)
      val physical = Seq("full", "diff").flatMap(tag =>
        (t +: TextOps.BackupSiblings.map(t + _))
          .map(m => s"${m}_bak_$tag")
          .filter(spark.catalog.tableExists)
          .flatMap(TextOps.listDataFiles(spark, _))).map(_._2).sum
      assert(comps("backup") === physical)

      // the differential's own physical bytes are a small fraction of
      // the full take's (the r17 byte-curve bend, visible in the gauge)
      val own = g.where(col("component") === "backup")
        .groupBy("tag").agg(sum("bytes").as("b")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(own("diff") < own("full") / 2)

      // the orphan copy is debris with its tag named
      val debris = g.where(col("component") === "debris")
        .select("tag").collect().map(_.getString(0)).toSet
      assert(debris.contains("orphan"))

      // snapshot meta stays flat-tiny next to live bytes
      assert(comps("snapshot") < comps("live"))

      // reclaim drill: dropping the snapshot clears anchor + snapshot
      TextOps.dropSnapshot(spark, t, "s1")
      val after = byComp(TextOps.storageBreakdown(spark, t))
      assert(!after.contains("snapshot") && !after.contains("anchor"))
    } finally drop(all: _*)
  }

  test("group gauge: state, checkpoint, their per-tag backups, " +
      "group-meta and member-family rows in one frame") {
    val base = s"sb_doc_p$pid"
    val members = Seq(s"${base}_band", s"${base}_band_del",
      s"${base}_bm25", s"${base}_bm25_del", s"${base}_bm25_docs",
      s"${base}_hashes", s"${base}_ledger")
    val copies = members.map(_ + "_bak_g1") ++
      Seq(s"${base}_dbakok_g1", s"${base}_ups_ledger_bak_g1",
        s"${base}_dels_ledger_bak_g1",
        s"${base}_band_bakok_g1", s"${base}_bm25_bakok_g1")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sbdoc").toString
    drop((members ++ copies): _*)
    val ckRoot = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = ckRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def rmCks(): Unit =
      if (fs.exists(ckRoot)) fs.listStatus(ckRoot).foreach { st =>
        if (st.getPath.getName.startsWith(base.toLowerCase) &&
            st.getPath.getName.contains("_ck"))
          fs.delete(st.getPath, true)
      }
    rmCks()
    try {
      Tables(spark, sf, "documents").filter(col("doc_id") < 20)
        .write.mode("append").parquet(s"$dir/documents.parquet")
      StreamingOps.streamingDocumentIngest(spark, dir, base)
      StreamingOps.backup(spark, IndexGroup.documents(base), "g1")

      val g = StreamingOps.storageBreakdown(spark, IndexGroup.documents(base))
      val comps = byComp(g)
      assert(Set("live", "state", "checkpoint", "state-backup",
        "ck-backup", "backup", "group-meta").subsetOf(comps.keySet),
        s"components: ${comps.keySet}")
      assert(comps.values.forall(_ > 0))
      // member-family live rows ride along in the same frame
      val liveMembers = g.where(col("component") === "live")
        .select("member").collect().map(_.getString(0)).toSet
      assert(liveMembers.contains(s"${base}_bm25"))
      assert(liveMembers.contains(s"${base}_band"))
    } finally {
      drop((members ++ copies): _*)
      rmCks()
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
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
