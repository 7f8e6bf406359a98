package graft

import graft.operators.{AnnIndex, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** OPT-IN backup-cost audit (r15): the correctness specs prove
  * snapshot/backup SEMANTICS; this measures their COST curves — the
  * 100 TB claim is that a copy-based backup is O(index) (it grows
  * with the corpus) while a manifest snapshot and its restorability
  * check are O(metadata) (they grow with the FILE COUNT, which the
  * compaction cadence bounds, not with the bytes). The same family
  * at sf0.1 and sf1 should show backup cost scaling with the data
  * and snapshot/check cost essentially flat. Timing assertions are
  * deliberately absent (load makes them flaky); the audit PRINTS the
  * seconds for SCALE_SF1.md and asserts only correctness sanity.
  * Run with GRAFT_SCALE_AUDIT=1.
  */
class BackupScaleSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  test("backup is O(index), snapshot and check are O(metadata) " +
      "(audit — prints seconds, gates only sanity)") {
    assume(sys.env.contains("GRAFT_SCALE_AUDIT"),
      "opt-in audit: set GRAFT_SCALE_AUDIT=1")
    val dirs = Seq("sf0.1" -> "/root/testdata/sf0.1",
      "sf1" -> "/tmp/sf1")
    val results = dirs.map { case (label, dir) =>
      val docs = Tables(spark, dir, "documents")
      val emb = Tables(spark, dir, "embeddings")
      val bt = s"ba_bm25_${label.replace(".", "")}_p$pid"
      val at = s"ba_ann_${label.replace(".", "")}_p$pid"
      val all = (Seq(bt, at).flatMap(t =>
        t +: TextOps.BackupSiblings.map(t + _)) ++
        Seq(bt, at).flatMap(t =>
          (t +: TextOps.BackupSiblings.map(t + _))
            .flatMap(m => Seq(s"${m}_bak_bak", s"${m}_bak_diff"))) ++
        Seq(bt, at).flatMap(t =>
          Seq(s"${t}_bakok_bak", s"${t}_bakok_diff")) ++
        Seq(s"${bt}_mf_snap", s"${at}_mf_snap") ++
        Seq(bt, at).flatMap(t =>
          TextOps.SnapshotCopySiblings.map(t + _ + "_bak_mfsnap")))
        .distinct
      all.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      try {
        TextOps.appendBm25Postings(docs, bt)
        AnnIndex.write(emb, at)
        // bytes are the load-immune curve: wall-clock at these SFs is
        // job-launch-overhead-dominated (a 50k-doc copy is still
        // tiny), but the BYTES each path writes show the asymptote
        // directly — backup rewrites the index, snapshot writes file
        // metadata
        def bytesOf(tables: Seq[String]): Long = tables
          .filter(spark.catalog.tableExists)
          .map(t => TextOps.listDataFiles(spark, t).map(_._2).sum).sum
        val famTables = Seq(bt, at).flatMap(t =>
          t +: TextOps.BackupSiblings.map(t + _))
        val (_, backupS) = timed {
          TextOps.backupIndex(spark, bt)
          TextOps.backupIndex(spark, at)
        }
        val backupBytes = bytesOf(famTables.map(_ + "_bak_bak"))
        val (_, snapS) = timed {
          TextOps.snapshotIndex(spark, bt)
          TextOps.snapshotIndex(spark, at)
        }
        val snapBytes = bytesOf(Seq(s"${bt}_mf_snap", s"${at}_mf_snap")
          ++ Seq(bt, at).flatMap(t =>
            TextOps.SnapshotCopySiblings.map(t + _ + "_bak_mfsnap")))
        val (chk, checkS) = timed {
          TextOps.checkSnapshot(spark, bt) ++
            TextOps.checkSnapshot(spark, at)
        }
        assert(chk.isEmpty, s"$label: fresh snapshot not clean: $chk")
        // AS-OF PROBE cost (r17): the audit path scores the tag off
        // plain manifested-file scans (+ one Exchange); the live path
        // serves from the bucketed index. Nothing has mutated since
        // the snapshot, so the two answers must be value-identical —
        // the load-immune sanity gate — and the printed pair is the
        // "what does scoring the past cost" curve for SCALE_SF1.md.
        val sp0 = spark
        import sp0.implicits._
        val qt = spark.table(bt).select("token").distinct()
          .orderBy("token").limit(3).collect().map(_.getString(0))
          .zipWithIndex.map { case (t, i) => (i, t) }
          .toSeq.toDF("q_id", "token")
        def bmMap(rows: Array[org.apache.spark.sql.Row]) =
          rows.map(r => ((r.getInt(0), r.getLong(1)),
            r.getDouble(2))).toMap
        val (liveRows, liveS) = timed {
          val (p, st) = TextOps.liveBm25(spark, bt, "")
          TextOps.bm25ScoreIncr(qt, p, st).collect()
        }
        val (asOfRows, asOfS) = timed {
          TextOps.scoreBm25AsOf(spark, bt, "snap", qt).collect()
        }
        assert(bmMap(asOfRows) === bmMap(liveRows),
          s"$label: as-of diverged from live with no mutation between")
        // family, then back it up AGAINST the full tag — the bend in
        // the byte curve: physical bytes ride the append window, not
        // the corpus (references cover the rest)
        val bmFam = bt +: TextOps.BackupSiblings.map(bt + _)
        val fullBmBytes = bytesOf(bmFam.map(_ + "_bak_bak"))
        val extra = docs
          .limit(math.max(1, (docs.count() / 10).toInt))
          .withColumn("doc_id", col("doc_id") + lit(1000000000L))
        TextOps.appendBm25Postings(extra, bt)
        val (_, diffS) = timed {
          TextOps.backupIndex(spark, bt, "diff",
            baseTag = Some("bak"))
        }
        val diffBytes = bytesOf(bmFam.map(_ + "_bak_diff"))
        assert(TextOps.checkBackup(spark, bt, "diff") === Nil)
        assert(diffBytes > 0 && diffBytes * 2 < fullBmBytes,
          s"$label: differential copied $diffBytes of $fullBmBytes " +
            "full-copy bytes — not a delta")
        // PROMOTE leg (r17): materializing the differential copies
        // exactly the borrowed bytes (provenance is the pre-gauge),
        // after which the base retires clean
        val borrowedBytes = TextOps
          .backupProvenance(spark, bt, "diff")
          .filter(_._1 != "diff").map(_._3).sum
        val (_, promoteS) = timed {
          TextOps.promoteBackup(spark, bt, "diff")
        }
        val promotedBytes = bytesOf(bmFam.map(_ + "_bak_diff"))
        assert(promotedBytes === diffBytes + borrowedBytes,
          s"$label: promote copied ${promotedBytes - diffBytes} of " +
            s"the $borrowedBytes borrowed bytes")
        assert(TextOps.dependentBackups(spark, bt, "bak") === Nil)
        TextOps.dropBackup(spark, bt, "bak")
        assert(TextOps.checkBackup(spark, bt, "diff") === Nil)
        println(f"BACKUP_AUDIT $label backup=$backupS%.2fs/" +
          f"${backupBytes / 1024}%dKiB snapshot=$snapS%.2fs/" +
          f"${snapBytes / 1024}%dKiB check=$checkS%.2fs " +
          f"diff10pct=$diffS%.2fs/${diffBytes / 1024}%dKiB " +
          f"(${diffBytes * 100.0 / fullBmBytes}%.1f%% of the bm25 " +
          f"full copy's ${fullBmBytes / 1024}%dKiB) " +
          f"promote=$promoteS%.2fs/${borrowedBytes / 1024}%dKiB " +
          f"asof=$asOfS%.2fs(live=$liveS%.2fs)")
        (backupS, snapS, checkS, backupBytes, snapBytes, asOfS)
      } finally
        all.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
    val Seq((b0, s0, c0, bb0, sb0, a0),
      (b1, s1, c1, bb1, sb1, a1)) = results
    println(f"BACKUP_AUDIT ratios (10x corpus): backup ${b1 / b0}%.2fx/" +
      f"${bb1.toDouble / bb0}%.2fx-bytes snapshot ${s1 / s0}%.2fx/" +
      f"${sb1.toDouble / sb0}%.2fx-bytes check ${c1 / c0}%.2fx " +
      f"asof ${a1 / a0}%.2fx")
    // the asymptote, gated: on 10x data the copy path writes ~10x the
    // bytes while the manifest path stays within small-change of flat
    assert(bb1 > bb0 * 4, s"backup bytes should scale with data: $bb0 -> $bb1")
    assert(sb1 < sb0 * 3, s"snapshot bytes should stay O(metadata): $sb0 -> $sb1")
  }
}
