package graft

import graft.pipeline.{OmsPipeline, SchemaMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Schema-matching front end against the reference datasets' header
  * shapes (FIXTURES.md §B): each wild header set must map exactly as the
  * reference's synonym logic does, including the quoted-comma header and
  * the intentionally unmappable file. Inputs are the small in-repo
  * fixtures under `src/test/resources/oms/` (verbatim headers, a few
  * rows each).
  */
class HeterogeneousInputsSpec extends AnyFunSuite with SparkSuite {

  private def mappedCols(file: String,
      synonyms: Seq[(String, Seq[String])]): Set[String] = {
    val raw = OmsPipeline.extract(spark, OmsFixtures.path(file))
    SchemaMapper.applyMapping(raw, synonyms).columns.toSet
  }

  test("covid_global_3: Country/Region + Lat/Long map under v5 synonyms") {
    val cols = mappedCols("covid_global_3.csv", OmsPipeline.v5ColumnSynonyms)
    assert(Set("country", "date", "confirmed", "deaths", "recovered",
      "active", "latitude", "longitude").subsetOf(cols))
    // candidate-list priority: country_region claims `country` (the
    // reference breaks on the first candidate present), so the
    // lower-priority Province/State synonym passes through untouched
    assert(cols.contains("Province/State"))
  }

  test("synonym priority follows candidate-list order, not header order") {
    val m = SchemaMapper.renameMap(
      Seq("Province/State", "Country/Region"), OmsPipeline.v5ColumnSynonyms)
    assert(m === Map("Country/Region" -> "country"))
  }

  test("covid_worldometer: TotalCases/quoted-comma headers map (EP2 map)") {
    val cols = mappedCols("covid_worldometer_data.csv",
      OmsPipeline.standardColumnMap)
    assert(Set("country", "confirmed", "new_cases", "deaths", "new_deaths")
      .subsetOf(cols))
    // the quoted "Serious,Critical" header survives as one passthrough col
    assert(cols.exists(_.contains("Serious")))
  }

  test("covid_country_wise: maps measures but has no date column") {
    val cols = mappedCols("covid_country_wise_latest.csv",
      OmsPipeline.standardColumnMap)
    assert(Set("country", "confirmed", "deaths", "recovered", "active")
      .subsetOf(cols))
    assert(!cols.contains("date"))
  }

  test("monkeypox_report_2 (Entity,Day,Daily cases) maps nothing — skipped") {
    val cols = mappedCols("monkeypox_report_2.csv",
      OmsPipeline.v5ColumnSynonyms)
    assert(!cols.contains("country") && !cols.contains("date"))
  }

  test("covid_day_wise: date maps but no country (v5 skips the file)") {
    val cols = mappedCols("covid_day_wise.csv", OmsPipeline.v5ColumnSynonyms)
    assert(cols.contains("date") && !cols.contains("country"))
  }

  test("JSON array source: extension dispatch reads pandas-style files") {
    // pd.read_json consumes one JSON array (FIXTURES.md S2 ≙ Spark
    // multiLine) — write one and run it through the standard pipeline
    val p = java.nio.file.Files.createTempDirectory("graft_json")
      .resolve("mpox_sample.json")
    java.nio.file.Files.writeString(p,
      """[{"location": "France", "date": "2022-05-01", "total_cases": 3,
        |  "new_cases": 1},
        | {"location": "France", "date": "2022-05-02", "total_cases": 7,
        |  "new_cases": 4}]""".stripMargin)
    val raw = OmsPipeline.extract(spark, p.toString)
    val std = OmsPipeline.standardize(raw, "Monkeypox")
    assert(std.count() === 2)
    assert(std.columns.contains("confirmed"))
    val conf = std.orderBy("date").select("confirmed").collect()
      .map(_.getDouble(0)).toSeq
    assert(conf === Seq(3.0, 7.0))
  }
}
