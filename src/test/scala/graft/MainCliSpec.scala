package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The CLI surface (VERDICT "What's missing" #2): arg parsing matches the
  * reference's argparse contract, and the golden Monkeypox comparison
  * passes through the CLI path end-to-end (files on disk, not frames).
  */
class MainCliSpec extends AnyFunSuite with SparkSuite {

  private val reference = new java.io.File("/root/reference")
  private lazy val golden = reference.listFiles()
    .find(_.getName.contains("sultat")).get.getPath + "/Monkeypox"

  /** The CLI golden legs read the reference checkout; without it they
    * cancel by name instead of aborting the whole suite. */
  private def assumeReference(): Unit =
    assume(reference.isDirectory,
      s"needs the reference checkout at ${reference.getPath}")

  test("argparse contract: --file/--pandemic_name/--dir/--out") {
    val a = Main.parse(Seq("--file", "x.csv", "--pandemic_name", "Mpox",
      "--out", "/tmp/o"))
    assert(a === Main.Args(Some("x.csv"), "Mpox", None, "/tmp/o"))
    val d = Main.parse(Seq("--dir", "/data"))
    assert(d === Main.Args(None, "pandemic", Some("/data"), "Resultat_ETL"))
    intercept[IllegalArgumentException](Main.parse(Seq("--bogus")))
    // neither --file nor --dir → usage error
    intercept[IllegalArgumentException](Main.run(spark, Main.Args()))
  }

  test("CLI file mode reproduces the golden Monkeypox star on disk") {
    assumeReference()
    val out = java.nio.file.Files.createTempDirectory("graft_cli").toString
    Main.run(spark, Main.Args(
      file = Some("/root/reference/DATASETS/monkeypox_report.csv"),
      pandemicName = "Monkeypox", out = out))

    val dir = s"$out/Monkeypox"
    for (t <- Seq("Resultat", "Pays", "Region", "Maladie", "Statistique"))
      assert(new java.io.File(s"$dir/$t.csv").exists(), t)

    def byName(stat: String, region: String) = {
      val s = spark.read.option("header", true).option("inferSchema", true)
        .csv(stat)
      val r = spark.read.option("header", true).option("inferSchema", true)
        .csv(region)
      s.join(r, Seq("id_region")).select(col("nom_region"),
        to_date(col("date")).as("d"),
        col("nouveau_mort").cast("double").as("nm"),
        col("nouveau_cas").cast("double").as("nc"),
        col("total_mort").cast("double").as("tm"))
    }
    val ours = byName(s"$dir/Statistique.csv", s"$dir/Region.csv")
    val gold = byName(s"$golden/Statistique.csv", s"$golden/Region.csv")
    assert(ours.count() === 33666L)
    assert(ours.exceptAll(gold).count() === 0)
    assert(gold.exceptAll(ours).count() === 0)
  }

  test("CLI directory mode writes the operational star tree") {
    assumeReference()
    val out = java.nio.file.Files.createTempDirectory("graft_cli_d").toString
    Main.run(spark, Main.Args(dir = Some("/root/reference/DATASETS"),
      out = out))
    val dir = s"$out/Operational"
    for (t <- Seq("Pays", "Region", "Maladie", "Statistique", "RegionGeo"))
      assert(new java.io.File(s"$dir/$t.csv").exists(), t)
    val maladie = spark.read.option("header", true).csv(s"$dir/Maladie.csv")
    assert(maladie.count() >= 2) // COVID-19 + Monkeypox at least
  }
}
