package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MARKER-CHAIN RESOLUTION (r18, VERDICT #5): a 100 TB family with
  * small files makes the backup marker millions of rows. The
  * aggregate verbs (provenance, dependents, the storage gauge)
  * consume the marker as a DataFrame and collect only bounded
  * summaries; checkBackup reads the rows once and audits them on one
  * shallow and one deep path. This spec pins what that path must
  * name on a differential chain: file loss, post-commit additions, a
  * dropped differential base, and a same-length tamper in the own
  * and in the base copy.
  */
class MarkerScaleSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def famAll(t: String): Seq[String] =
    (t +: TextOps.BackupSiblings.map(t + _)) ++
      Seq(s"${t}_stats") ++
      Seq("b1", "b2").flatMap(tg =>
        (t +: TextOps.BackupSiblings.map(t + _))
          .map(m => s"${m}_bak_$tg") :+ s"${t}_bakok_$tg")

  private def mkFam(t: String): Unit = {
    val sp = spark
    import sp.implicits._
    // several appends so the copies hold multiple files per member
    (0 until 3).foreach { b =>
      TextOps.appendBm25Postings(
        (1L to 8L).map(i => (b * 100 + i).toLong ->
          s"spark shuffle join token$i batch$b data")
          .toDF("doc_id", "text"), t, s"${t}_stats")
    }
  }

  test("checkBackup names the damage: healthy, lost file, unrecorded " +
      "file, and dropped differential base") {
    val t = s"ms_bm25_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      mkFam(t)
      TextOps.backupIndex(spark, t, "b1")
      // grow, then a differential on b1 so borrow rows exist
      TextOps.appendBm25Postings(
        Seq(900L -> "fresh delta content words").toDF("doc_id", "text"),
        t, s"${t}_stats")
      TextOps.backupIndex(spark, t, "b2", Some("b1"))

      // healthy
      assert(TextOps.checkBackup(spark, t, "b2") === Nil)

      // damage 1: delete one committed file from b2's own copy
      val own = s"${t}_bak_b2"
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), own.toLowerCase)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val victim = fs.listStatus(loc)
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
        .map(_.getPath).minBy(_.getName)
      val victimBytes = org.apache.hadoop.io.IOUtils
        .readFullyToByteArray(fs.open(victim))
      fs.delete(victim, false)
      // damage 2: an unrecorded file appears in the copy
      val rogue = new org.apache.hadoop.fs.Path(loc, "part-rogue.parquet")
      val out = fs.create(rogue, true)
      out.write(Array[Byte](1, 2, 3)); out.close()

      val local = TextOps.checkBackup(spark, t, "b2")
      assert(local.nonEmpty)
      assert(local.exists(_.contains("lost or changed")), local)
      assert(local.exists(_.contains("not in the commit marker")), local)

      // heal, then damage 3: drop the differential base out-of-band
      fs.delete(rogue, false)
      val back = fs.create(victim, true)
      back.write(victimBytes); back.close()
      assert(TextOps.checkBackup(spark, t, "b2") === Nil) // healed
      spark.sql(s"DROP TABLE ${t}_bak_b1") // base copy gone out-of-band
      val local2 = TextOps.checkBackup(spark, t, "b2")
      assert(local2.exists(_.contains("missing (base dropped")), local2)
    } finally drop(all: _*)
  }

  test("DEEP audit names a same-length byte tamper, in the own copy " +
      "and in a borrowed base copy") {
    val t = s"ms_deep_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      mkFam(t)
      TextOps.backupIndex(spark, t, "b1")
      TextOps.appendBm25Postings(
        Seq(902L -> "deep delta content words").toDF("doc_id", "text"),
        t, s"${t}_stats")
      TextOps.backupIndex(spark, t, "b2", Some("b1"))
      def deep(): Seq[String] =
        TextOps.checkBackup(spark, t, "b2", deep = true)
      assert(deep() === Nil)
      def flipOneByte(copy: String): (org.apache.hadoop.fs.Path,
          Array[Byte]) = {
        val loc = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), copy.toLowerCase)
        val fs = loc.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val victim = fs.listStatus(loc)
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
          .map(_.getPath).minBy(_.getName)
        val bytes = org.apache.hadoop.io.IOUtils
          .readFullyToByteArray(fs.open(victim))
        val tampered = bytes.clone()
        // flip a byte INSIDE the payload (not the trailing magic) —
        // same length, different content: invisible to the shallow
        // (name, len) identity, exactly what deep exists to catch
        tampered(bytes.length / 2) =
          (tampered(bytes.length / 2) ^ 0xff).toByte
        val out = fs.create(victim, true)
        out.write(tampered); out.close()
        (victim, bytes)
      }
      def heal(victim: org.apache.hadoop.fs.Path,
          bytes: Array[Byte]): Unit = {
        val fs = victim.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val out = fs.create(victim, true)
        out.write(bytes); out.close()
      }
      // tamper in b2's OWN copy
      val (v1, b1bytes) = flipOneByte(s"${t}_bak_b2")
      val local = deep()
      assert(local.exists(_.contains("content mismatch")), local)
      heal(v1, b1bytes)
      assert(deep() === Nil)
      // tamper in the BASE copy b2 borrows from — the mismatch must
      // name the base copy as the holder
      val (v2, b2bytes) = flipOneByte(s"${t}_bak_b1")
      val local2 = deep()
      assert(local2.exists(m => m.contains("content mismatch") &&
        m.contains(s"${t}_bak_b1")), local2)
      heal(v2, b2bytes)
      assert(deep() === Nil)
    } finally drop(all: _*)
  }

  test("aggregate verbs collect summaries, not rows: provenance and " +
      "dependents agree with the row-level read on a differential " +
      "chain") {
    val t = s"ms_agg_p$pid"
    val all = famAll(t)
    drop(all: _*)
    try {
      val sp = spark
      import sp.implicits._
      mkFam(t)
      TextOps.backupIndex(spark, t, "b1")
      TextOps.appendBm25Postings(
        Seq(901L -> "delta two content words").toDF("doc_id", "text"),
        t, s"${t}_stats")
      TextOps.backupIndex(spark, t, "b2", Some("b1"))
      // ground truth from the row-level read
      def truth(tag: String): Seq[(String, Long, Long)] =
        TextOps.readBackupMarker(spark, s"${t}_bakok_$tag")
          .collect { case (_, Some(_), l, src, _) =>
            (src.getOrElse(tag), l) }
          .groupBy(_._1).toSeq
          .map { case (g, fs2) =>
            (g, fs2.size.toLong, fs2.map(_._2).sum) }
          .sortBy(-_._3)
      assert(TextOps.backupProvenance(spark, t, "b2") === truth("b2"))
      assert(TextOps.backupProvenance(spark, t, "b1") === truth("b1"))
      // b2 borrows from b1 → b1 has b2 as dependent, not vice versa
      assert(TextOps.dependentBackups(spark, t, "b1") === Seq("b2"))
      assert(TextOps.dependentBackups(spark, t, "b2") === Nil)
      // the storage gauge's backup rows reconcile against provenance:
      // physical bytes under "backup", borrowed bytes priced apart
      val bd = TextOps.storageBreakdown(spark, t)
        .where(col("tag") === "b2").collect()
        .map(r => (r.getString(0), r.getString(2), r.getLong(4)))
      val physical = bd.collect {
        case ("backup", _, b) => b }.sum
      val borrowed = bd.collect {
        case ("backup-borrowed", _, b) => b }.sum
      val prov = TextOps.backupProvenance(spark, t, "b2")
        .map { case (holder, _, b) => holder -> b }.toMap
      assert(physical === prov("b2"))
      assert(borrowed === prov.filterNot(_._1 == "b2").values.sum)
    } finally drop(all: _*)
  }
}
