package graft

import graft.pipeline.OmsPipeline
import org.scalatest.funsuite.AnyFunSuite

/** S5/S6 sink coverage: star-schema tables written as CSV+JSON and read
  * back intact.
  */
class SinksSpec extends AnyFunSuite with SparkSuite {

  test("star schema writes CSV and JSON, round-trips row counts") {
    val out = java.nio.file.Files.createTempDirectory("graft_sinks")
      .toString
    val std = OmsPipeline.standardize(
      OmsPipeline.extract(spark,
        OmsFixtures.path("covid_country_wise_latest.csv")),
      "COVID-19")
    // this file has no date column → pandas drops nothing only in v4
    // (now() fill); EP2 semantics drop all rows. Use a dated file instead
    // if empty.
    val source = if (std.isEmpty)
      OmsPipeline.standardize(OmsPipeline.extract(spark,
        OmsFixtures.path("covid_global_3.csv")), "COVID-19")
    else std
    val star = OmsPipeline.starSchema(source, "COVID-19", spark)
    OmsPipeline.saveStar(star, out)
    val paysBack = spark.read.option("header", true).csv(s"$out/Pays.csv")
    // JSON tables are the pandas records-array shape: ONE file holding a
    // single JSON array (multiLine read), not a JSON-lines directory
    assert(new java.io.File(s"$out/Statistique.json").isFile)
    val statBack = spark.read.option("multiLine", true)
      .json(s"$out/Statistique.json")
    assert(paysBack.count() === star.pays.count())
    assert(statBack.count() === star.statistique.count())
    assert(paysBack.columns.toSet === Set("country", "id_pays"))
  }

  test("ORC round-trip preserves schema and values (columnar alt to parquet)") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft_orc").toString
    val src = Tables(spark, sf, "orders")
    src.write.mode("overwrite").orc(s"$out/orders_orc")
    val back = spark.read.orc(s"$out/orders_orc")
    assert(back.schema === src.schema)
    assert(back.count() === src.count())
    // value-level: exact total over a deterministic integer-cents sum
    val s1 = src.agg(Det.exactSum(col("o_totalprice"), 2)).head.getDouble(0)
    val s2 = back.agg(Det.exactSum(col("o_totalprice"), 2)).head.getDouble(0)
    assert(s1 === s2)
    // predicate pushdown reaches the ORC scan like parquet
    val plan = back.filter(col("o_orderkey") === 42L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_orderkey"),
      plan)
  }

  test("records-array JSON parses like the reference's golden Pays.json") {
    val golden = new java.io.File("/root/reference").listFiles()
    // golden-parity leg: cancels by name without the reference checkout
    assume(golden != null, "needs the reference checkout's golden outputs")
    val goldenDir = golden.find(_.getName.contains("sultat")).get.getPath +
      "/Monkeypox"
    val out = java.nio.file.Files.createTempDirectory("graft_jsonarr")
      .toString
    val std = OmsPipeline.standardize(OmsPipeline.extract(spark,
      "/root/reference/DATASETS/monkeypox_report.csv"), "Monkeypox")
    val star = OmsPipeline.starSchema(std, "Monkeypox", spark)
    OmsPipeline.saveTableJsonArray(star.pays, out, "Pays")
    val ours = spark.read.option("multiLine", true).json(s"$out/Pays.json")
    val goldenPays = spark.read.option("multiLine", true)
      .json(s"$goldenDir/Pays.json")
    assert(ours.count() === goldenPays.count())
    assert(ours.select("country")
      .except(goldenPays.select("country")).count() === 0)
  }

  test("empty frame writes a valid empty JSON array") {
    val out = java.nio.file.Files.createTempDirectory("graft_jsonarr0")
      .toString
    val sp = spark
    import sp.implicits._
    OmsPipeline.saveTableJsonArray(
      Seq.empty[(Int, String)].toDF("a", "b"), out, "Empty")
    val content = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/Empty.json")))
    assert(content === "[]")
  }
}
