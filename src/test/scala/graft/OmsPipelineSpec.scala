package graft

import graft.pipeline.{OmsPipeline, SchemaMapper}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** Golden-file parity (SURVEY.md §5.3): run the EP2 star-schema pipeline
  * on the reference's own committed input and compare against its
  * committed output (Résultat de l'ETL/Monkeypox). Ids are assigned in a
  * different (deterministic) order than pandas' first-appearance index, so
  * the comparison joins through names (id-remapped set equality).
  */
class OmsPipelineSpec extends AnyFunSuite with SparkSuite {

  private val refData = "/root/reference/DATASETS"
  private val reference = new java.io.File(refData).getParentFile
  // the results dir name contains a U+2019 apostrophe — resolve it by
  // listing instead of hardcoding the exact codepoints
  private lazy val golden = reference.listFiles()
    .find(_.getName.contains("sultat")).get.getPath + "/Monkeypox"

  /** The golden-parity legs read the reference checkout's committed
    * inputs and outputs; without it they cancel by name instead of
    * aborting the whole suite. */
  private def assumeReference(): Unit =
    assume(reference.isDirectory,
      s"needs the reference checkout at ${reference.getPath}")

  private lazy val standardized = OmsPipeline.standardize(
    OmsPipeline.extract(spark, s"$refData/monkeypox_report.csv"), "Monkeypox")
  private lazy val star =
    OmsPipeline.starSchema(standardized, "Monkeypox", spark)
  /** The input-only legs run on the in-repo fixture of the same file. */
  private lazy val fixtureStandardized = OmsPipeline.standardize(
    OmsPipeline.extract(spark, OmsFixtures.path("monkeypox_report.csv")),
    "Monkeypox")

  test("synonym mapping: first match wins, unmatched pass through") {
    val m = SchemaMapper.renameMap(
      Seq("Country/Region", "Date", "TotalCases", "weird_col"),
      OmsPipeline.standardColumnMap)
    assert(m === Map("Country/Region" -> "country", "Date" -> "date",
      "TotalCases" -> "confirmed"))
  }

  test("detect_maladie keyword chain with Inconnue fallback") {
    assert(OmsPipeline.detectMaladie("covid_global_3.csv") === "COVID-19")
    assert(OmsPipeline.detectMaladie("monkeypox_report.csv") === "Monkeypox")
    assert(OmsPipeline.detectMaladie("weird.csv") === "Inconnue")
  }

  test("golden: Pays has the same countries") {
    assumeReference()
    val goldenPays = spark.read.option("header", true)
      .csv(s"$golden/Pays.csv")
    val ours = star.pays
    assert(ours.count() === goldenPays.count())
    assert(ours.select("country")
      .except(goldenPays.select("country")).count() === 0)
  }

  test("golden: Statistique matches row-for-row through region names") {
    assumeReference()
    val goldenStat = spark.read.option("header", true)
      .option("inferSchema", true).csv(s"$golden/Statistique.csv")
    val goldenRegion = spark.read.option("header", true)
      .option("inferSchema", true).csv(s"$golden/Region.csv")
    val goldenByName = goldenStat
      .join(goldenRegion, Seq("id_region"))
      .select(col("nom_region"), to_date(col("date")).as("d"),
        col("nouveau_mort").cast("double").as("nm"),
        col("nouveau_cas").cast("double").as("nc"),
        col("total_mort").cast("double").as("tm"))
    val oursByName = star.statistique
      .join(star.region, Seq("id_region"))
      .select(col("nom_region"), to_date(col("date")).as("d"),
        col("nouveau_mort").cast("double").as("nm"),
        col("nouveau_cas").cast("double").as("nc"),
        col("total_mort").cast("double").as("tm"))
    assert(oursByName.count() === 33666L)
    assert(oursByName.count() === goldenByName.count())
    assert(oursByName.exceptAll(goldenByName).count() === 0)
    assert(goldenByName.exceptAll(oursByName).count() === 0)
  }

  test("golden COVID-19: dim upsert accumulates to the exact golden sets") {
    assumeReference()
    // The COVID-19 golden dir has dims but no Statistique. Its Pays is
    // NOT any single input's countries: it is exactly the UNION of
    // covid_global_3.csv (ids 1-187, first processed) and
    // covid_global.csv's new countries (ids 188-248) — a dim-UPSERT
    // accumulation across the covid-mapped inputs. covid_global has no
    // date column at all, yet its countries are in the golden, so the
    // reference run registered dims BEFORE its date filter (the
    // committed scripts' post-filter skip would exclude the whole
    // file) — the golden is the authority on that order. Ids within a
    // batch are first-appearance in the reference vs name-sorted here
    // (same divergence the Monkeypox tests document), so the gate is
    // set equality per id-range, not id-for-id.
    val covidGolden = new java.io.File(golden).getParentFile.getPath +
      "/COVID-19"
    val goldenPays = spark.read.option("header", true)
      .option("inferSchema", true).csv(s"$covidGolden/Pays.csv")
    def countries(file: String) = SchemaMapper.applyMapping(
        OmsPipeline.extract(spark, s"$refData/$file"),
        OmsPipeline.standardColumnMap)
      .select("country").na.drop()
    val sp = spark
    import sp.implicits._
    val empty = Seq.empty[(String, Int)].toDF("country", "id_pays")
    val afterG3 = OmsPipeline.upsertDim(empty,
      countries("covid_global_3.csv"), "country", "id_pays")
    val dims = OmsPipeline.upsertDim(afterG3,
      countries("covid_global.csv"), "country", "id_pays")
    assert(dims.count() === 248L)
    assert(dims.count() === goldenPays.count())
    assert(dims.select("country")
      .except(goldenPays.select("country")).count() === 0)
    assert(goldenPays.select("country")
      .except(dims.select("country")).count() === 0)
    // accumulation structure: the first batch's id range holds exactly
    // the first file's countries, in ours AND the golden
    val n1 = afterG3.count()
    def idRange(df: org.apache.spark.sql.DataFrame, lo: Long, hi: Long) =
      df.filter(col("id_pays") > lo && col("id_pays") <= hi)
        .select("country")
    assert(idRange(dims, 0, n1).except(idRange(goldenPays, 0, n1))
      .count() === 0)
    assert(idRange(goldenPays, 0, n1).except(idRange(dims, 0, n1))
      .count() === 0)
    // Region mirrors Pays 1:1 in the golden (same names, id_region ==
    // id_pays) — the starSchema mirror invariant
    val goldenRegion = spark.read.option("header", true)
      .option("inferSchema", true).csv(s"$covidGolden/Region.csv")
    assert(goldenRegion.count() === 248L)
    assert(goldenRegion.filter(col("id_region") =!= col("id_pays"))
      .count() === 0)
    assert(goldenRegion.select(col("nom_region").as("country"))
      .except(dims.select("country")).count() === 0)
    // every covid input detects the golden dir's disease
    for (f <- Seq("covid_global_3.csv", "covid_global.csv"))
      assert(OmsPipeline.detectMaladie(f) === "COVID-19")
    val goldenMaladie = spark.read.option("header", true)
      .option("inferSchema", true).csv(s"$covidGolden/Maladie.csv")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(goldenMaladie === Seq((1, "COVID-19")))
  }

  test("golden Inconnue: dateless input writes the header-only star") {
    assumeReference()
    // The Inconnue golden is the skip path made visible: an input with a
    // mappable country but NO usable dates standardizes to an empty
    // frame, and the star save still emits every table — header-only
    // CSVs, [] JSON arrays — except Maladie, which registers the
    // detected disease (golden Maladie.csv = "1,Inconnue"). Replicated
    // with covid_country_wise_latest.csv (country synonym present, no
    // date column; the reference's own Inconnue input is not committed,
    // but any dateless file exercises the identical path).
    val incGolden = new java.io.File(golden).getParentFile.getPath +
      "/Inconnue"
    assert(OmsPipeline.detectMaladie("who_report_latest.csv") === "Inconnue")
    val std = OmsPipeline.standardize(
      OmsPipeline.extract(spark,
        s"$refData/covid_country_wise_latest.csv"), "Inconnue")
    assert(std.count() === 0L, "no parseable dates -> empty standardized")
    val star = OmsPipeline.starSchema(std, "Inconnue", spark)
    val out = java.nio.file.Files
      .createTempDirectory("graft_inconnue").toString
    OmsPipeline.saveStar(star, out)
    def readCsv(dir: String, name: String) = spark.read
      .option("header", true).csv(s"$dir/$name.csv")
    for (t <- Seq("Pays", "Region", "Statistique")) {
      val g = readCsv(incGolden, t)
      val ours = readCsv(out, t)
      // header-only: same columns in the same order, zero rows, on both
      assert(ours.columns.toSeq === g.columns.toSeq, t)
      assert(g.count() === 0L, t)
      assert(ours.count() === 0L, t)
    }
    val gm = readCsv(incGolden, "Maladie")
    val om = readCsv(out, "Maladie")
    assert(om.columns.toSeq === gm.columns.toSeq)
    assert(om.collect().map(_.toSeq).toSeq === gm.collect().map(_.toSeq).toSeq)
    // the pandas-shape JSON sink: byte-identical tiny files
    def slurp(p: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), java.nio.charset.StandardCharsets.UTF_8)
    for (t <- Seq("Pays", "Region", "Statistique"))
      assert(slurp(s"$out/$t.json") === slurp(s"$incGolden/$t.json"), t)
    assert(slurp(s"$out/Maladie.json") === slurp(s"$incGolden/Maladie.json"))
  }

  test("EP1 long format: indicators melt with unit lookup") {
    val long = OmsPipeline.toLongFormat(fixtureStandardized)
    val units = long.select("indicator", "unit").distinct().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // all-null measures (recovered/active here) are dropped by the
    // null-value filter, so only observed indicators appear
    assert(units.nonEmpty)
    units.foreach { case (k, v) =>
      assert(OmsPipeline.indicatorUnits(k) === v)
    }
    // null measures are dropped, never zero-filled (ETL_OMS.py:84)
    assert(long.filter(col("value").isNull).count() === 0)
  }

  test("melt then pivot round-trips the standardized measures") {
    val wide = OmsPipeline.toWideFormat(
      OmsPipeline.toLongFormat(fixtureStandardized))
    // monkeypox report has all six measures? recovered/active are absent
    // → dropped in long form → zero-filled in wide form
    assert(wide.columns.toSet ===
      Set("date", "country", "pandemic") ++ OmsPipeline.measureCols)
    val n = fixtureStandardized.select("country", "date").distinct().count()
    assert(wide.count() === n)
  }

  test("upsertFact: incoming wins on conflict, others preserved") {
    val sp = spark
    import sp.implicits._
    val existing = Seq((1, 1, "2024-01-01", 5.0), (1, 2, "2024-01-01", 7.0))
      .toDF("id_maladie", "id_region", "date", "nouveau_cas")
    val incoming = Seq((1, 1, "2024-01-01", 9.0))
      .toDF("id_maladie", "id_region", "date", "nouveau_cas")
    val merged = OmsPipeline.upsertFact(existing, incoming)
    assert(merged.count() === 2)
    assert(merged.filter($"id_region" === 1).select("nouveau_cas")
      .first().getDouble(0) === 9.0)
    // idempotence: applying the same batch twice changes nothing
    val again = OmsPipeline.upsertFact(merged, incoming)
    assert(again.exceptAll(merged).count() === 0)
  }

  test("upsertDim: existing ids stable, new names appended after max id") {
    val sp = spark
    import sp.implicits._
    val dim = Seq(("France", 1), ("Peru", 2)).toDF("nom_pays", "id_pays")
    val names = Seq("Peru", "Chad", "Benin").toDF("nom_pays")
    val out = OmsPipeline.upsertDim(dim, names, "nom_pays", "id_pays")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(out === Map("France" -> 1, "Peru" -> 2, "Benin" -> 3, "Chad" -> 4))
  }

  /** The set-based `upsertDim` the driver-side merge replaced, kept as
    * its reference definition: left-anti on the name, fresh ids from a
    * global `row_number()` over the name after the dim's max id. */
  private def upsertDimSetBased(dim: DataFrame, names: DataFrame,
      nameCol: String, idCol: String): DataFrame = {
    val newNames = names.select(nameCol).distinct()
      .join(dim, Seq(nameCol), "left_anti")
    val maxId = dim.agg(coalesce(max(col(idCol)), lit(0))).first()
      .getAs[Number](0).intValue()
    val fresh = newNames.withColumn(idCol,
      (row_number().over(Window.orderBy(nameCol)) + maxId))
    dim.select(nameCol, idCol).unionByName(fresh.select(nameCol, idCol))
  }

  test("dimension ids follow Spark's string order where Java's " +
      "String.compareTo disagrees: null, empty, case, accents, a " +
      "supplementary character against U+FF21, a duplicate") {
    val sp = spark
    import sp.implicits._
    val grin = new String(Character.toChars(0x1F600))
    val names: Seq[Option[String]] = Seq(None, Some(""), Some("a"),
      Some("B"), Some("Cote"), Some("Côte d'Ivoire"), Some("Curaçao"),
      Some(grin), Some("Ａ"), Some("a"))
    // UTF-16 puts the surrogate pair (0xD83D…) before U+FF21, UTF-8
    // bytes (F0… against EF…) after it: the two orders really differ
    assert(grin.compareTo("Ａ") < 0)
    val df = names.toDF("name")
    def ids(d: DataFrame, n: String, id: String): Map[Option[String], Int] =
      d.select(n, id).collect()
        .map(r => Option(r.getString(0)) -> r.getInt(1)).toMap
    val expected = ids(df.distinct()
      .withColumn("id", row_number().over(Window.orderBy("name"))),
      "name", "id")
    assert(expected.size === 9)
    assert(expected(Some("Ａ")) < expected(Some(grin)))
    val std = df.select(col("name").as("country"),
      lit("2020-01-01").cast("timestamp").as("date"),
      lit(1.0).as("new_deaths"), lit(2.0).as("new_cases"),
      lit(3.0).as("deaths"), col("name").as("pandemic"))
    val star = OmsPipeline.starSchemaMulti(std, spark)
    assert(ids(star.pays, "country", "id_pays") === expected)
    assert(ids(star.region, "nom_region", "id_region") === expected)
    assert(ids(star.maladie, "nom_maladie", "id_maladie") === expected)
    // every fact row with a non-null name is keyed to its name's ids
    val keyed = star.statistique.select("id_region", "id_maladie")
      .as[(Int, Int)].collect().toSeq.sorted
    assert(keyed === names.flatten.map(n => (expected(Some(n)),
      expected(Some(n)))).sorted)
    val empty = Seq.empty[(String, Int)].toDF("name", "id")
    assert(ids(OmsPipeline.upsertDim(empty, df, "name", "id"), "name",
      "id") === expected)
  }

  test("upsertDim edge cases equal the set-based definition: a bigint " +
      "id keeps its type, an incoming null is appended beside an " +
      "existing null, a duplicate name gets one id, an empty dim starts " +
      "at 1") {
    val sp = spark
    import sp.implicits._
    def same(dim: DataFrame, names: DataFrame): DataFrame = {
      val ours = OmsPipeline.upsertDim(dim, names, "name", "id")
      val ref = upsertDimSetBased(dim, names, "name", "id")
      assert(ours.schema === ref.schema)
      assert(ours.collect().toSeq === ref.collect().toSeq)
      ours
    }
    val long = same(Seq(("France", 1L), ("Peru", 7L)).toDF("name", "id"),
      Seq("Peru", "Chad").toDF("name"))
    assert(long.schema("id").dataType === LongType)
    assert(long.as[(String, Long)].collect().last === ("Chad", 8L))
    val nulls = same(
      Seq((None, 1), (Some("France"), 2)).toDF("name", "id"),
      Seq(None, Some("Chad"), None).toDF("name"))
    assert(nulls.as[(Option[String], Int)].collect().toSeq === Seq(
      (None, 1), (Some("France"), 2), (None, 3), (Some("Chad"), 4)))
    val dup = same(Seq(("France", 1)).toDF("name", "id"),
      Seq("Chad", "Benin", "Chad").toDF("name"))
    assert(dup.count() === 3L)
    val fresh = same(Seq.empty[(String, Int)].toDF("name", "id"),
      Seq("Peru", "Chad").toDF("name"))
    assert(fresh.as[(String, Int)].collect().toSeq ===
      Seq(("Chad", 1), ("Peru", 2)))
  }

  test("operational run: unmappable files skipped, diseases detected") {
    // cache hygiene is asserted on the run's OWN frame below —
    // JVM-global getPersistentRDDs counts are unusable here because
    // parallel sibling suites persist and unpersist concurrently
    // (review r13: a count-based check can both false-pass and
    // false-fail)
    val res = OmsPipeline.runOperational(spark, OmsFixtures.dir)
    // monkeypox_report_2.csv (Entity,Day,Daily cases) matches no synonym
    // and must be skipped (ETL_OMS_OPERATIONNEL.py:250-253); covid_day_wise
    // has no country column.
    assert(res.skipped.exists(_.contains("monkeypox_report_2")))
    assert(res.skipped.exists(_.contains("covid_day_wise")))
    assert(res.processed.nonEmpty)
    assert(res.star.statistique.count() > 0)
    // the maladie dim spans every disease seen, and facts key to their
    // own disease (not a collapsed single id)
    val diseases = res.star.maladie.select("nom_maladie").collect()
      .map(_.getString(0)).toSet
    assert(Set("COVID-19", "Monkeypox").subsetOf(diseases))
    assert(res.star.statistique.select("id_maladie").distinct().count() >= 2)
    // U3: covid_global_3.csv carries Lat/Long → some regions enriched,
    // 6dp-rounded; regions never observed with coords stay null
    val geo = res.regionGeo
    assert(geo.filter(col("latitude").isNotNull).count() > 0)
    assert(geo.filter(col("latitude").isNull).count() > 0)
    val unrounded = geo.filter(col("latitude").isNotNull &&
      col("latitude") =!= round(col("latitude"), 6)).count()
    assert(unrounded === 0)
    // cache hygiene: release() drops the run's cached union frame —
    // asserted on THAT frame's storage level, parallel-suite-safe
    assert(res.cachedStorageLevel !==
      org.apache.spark.storage.StorageLevel.NONE,
      "the run should hold its cache until release()")
    res.release()
    assert(res.cachedStorageLevel ===
      org.apache.spark.storage.StorageLevel.NONE,
      "cache block leaked after release()")
    // a missing directory is a clear error, not an opaque NPE
    intercept[IllegalArgumentException] {
      OmsPipeline.runOperational(spark, "/nonexistent/dir")
    }
  }

  test("repeatable-read run (r18): a landing file rewritten mid-read " +
      "replans onto the consistent state — the output equals a clean " +
      "run over the updated directory; a churning feed fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_omsrr")
    def write(name: String, rows: Seq[String]): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        ("country,date,new_cases,new_deaths,deaths" +: rows)
          .mkString("\n").getBytes("UTF-8"))
    try {
      write("covid_feed.csv", Seq(
        "France,2020-03-01,10,1,1",
        "France,2020-03-02,20,2,3",
        "Peru,2020-03-01,5,0,0"))
      // the "concurrent upsert" of a file-based feed: the file is
      // REWRITTEN (longer) inside the read window, exactly once
      var fired = false
      val res = OmsPipeline.runOperational(spark, dir.toString,
        onUnionBuilt = () => if (!fired) {
          fired = true
          write("covid_feed.csv", Seq(
            "France,2020-03-01,10,1,1",
            "France,2020-03-02,25,2,3",
            "Peru,2020-03-01,5,0,0",
            "Peru,2020-03-02,7,1,1"))
        })
      assert(fired)
      // the run replanned: its star equals a CLEAN run over the
      // post-rewrite directory, row for row
      val clean = OmsPipeline.runOperational(spark, dir.toString)
      def factRows(r: OmsPipeline.OperationalResult) =
        r.star.statistique.collect().map(_.toString).sorted.toSeq
      assert(factRows(res) === factRows(clean))
      assert(factRows(res).size === 4) // the rewritten file's rows
      res.release(); clean.release()
      // a feed churning faster than the pipeline reads it must fail
      // loudly once the retry budget runs out, never serve a mix
      var n = 0
      val e = intercept[IllegalArgumentException] {
        OmsPipeline.runOperational(spark, dir.toString, attempts = 2,
          onUnionBuilt = () => {
            n += 1
            write("covid_feed.csv", Seq.fill(4 + n)(
              s"France,2020-03-0$n,1,1,1"))
          })
      }
      assert(e.getMessage.contains("churning"), e.getMessage)
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      val paths =
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.toList
        finally walk.close()
      paths.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("repeatable-read run survives a file DELETED mid-read (late " +
      "r18, review): the vanished file is a fingerprint change — a " +
      "replan onto the remaining files, never a FileNotFound crash") {
    val dir = java.nio.file.Files.createTempDirectory("graft_omsdel")
    def write(name: String, rows: Seq[String]): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        ("country,date,new_cases,new_deaths,deaths" +: rows)
          .mkString("\n").getBytes("UTF-8"))
    try {
      write("covid_a.csv", Seq(
        "France,2020-03-01,10,1,1",
        "France,2020-03-02,20,2,3"))
      write("grippe_b.csv", Seq(
        "Peru,2020-03-01,5,0,0"))
      var fired = false
      val res = OmsPipeline.runOperational(spark, dir.toString,
        onUnionBuilt = () => if (!fired) {
          fired = true
          java.nio.file.Files.delete(dir.resolve("grippe_b.csv"))
        })
      assert(fired)
      val clean = OmsPipeline.runOperational(spark, dir.toString)
      def factRows(r: OmsPipeline.OperationalResult) =
        r.star.statistique.collect().map(_.toString).sorted.toSeq
      assert(factRows(res) === factRows(clean))
      assert(factRows(res).size === 2) // the surviving file's rows
      assert(res.processed.forall(_.contains("covid_a")))
      res.release(); clean.release()
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      val paths =
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.toList
        finally walk.close()
      paths.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("v4 typed defaults: Unknown country, now() date, zero measures") {
    val sp = spark
    import sp.implicits._
    val df = OmsPipeline.completeWithDefaults(
      Seq((1.0, 2.0)).toDF("confirmed", "deaths"))
    val r = df.select("country", "new_cases", "recovered").first()
    assert(r.getString(0) === "Unknown")
    assert(r.getDouble(1) === 0.0)
    assert(df.columns.contains("date"))
  }

  test("v5 per-capita conversion: name-substring dispatch, pop-gated") {
    val sp = spark
    import sp.implicits._
    val df = Seq(("FR", 150.0, 20.0))
      .toDF("country", "cases_per_million", "deaths_per_million")
    val converted = OmsPipeline.convertPerCapita(df, Some(2000000.0))
    val r = converted.select("confirmed", "deaths").first()
    assert(r.getInt(0) === 300) // 150 * 2e6 / 1e6
    assert(r.getInt(1) === 40)
    // reference behavior: without a population the conversion is a no-op
    assert(OmsPipeline.convertPerCapita(df, None).columns.toSet ===
      df.columns.toSet)
  }

  test("v5 delta gate: all-zero new_cases triggers derivation") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      ("X", "2024-01-01", 10.0, 0.0), ("X", "2024-01-02", 25.0, 0.0))
      .toDF("country", "date_s", "confirmed", "new_cases")
      .withColumn("date", to_timestamp(col("date_s")))
      .withColumn("deaths", lit(null).cast("double"))
      .withColumn("new_deaths", lit(null).cast("double"))
    val out = OmsPipeline.deriveDeltas(df, treatZeroAsMissing = true)
      .orderBy("date").select("new_cases").collect().map(_.getDouble(0))
    assert(out.toSeq === Seq(0.0, 15.0))
  }

  test("standardize on a multi-partition frame plans no Window " +
      "without a partition key") {
    val sp = spark
    import sp.implicits._
    // two countries, one all-null delta column (so the gate derives
    // it) spread over four partitions
    val raw = (1 to 8).map(d => ("X", f"2024-01-$d%02d", 10.0 * d, 1.0))
      .++((1 to 8).map(d => ("Y", f"2024-01-$d%02d", 5.0 * d, 2.0)))
      .toDF("country", "date", "confirmed", "deaths")
      .repartition(4)
    val out = OmsPipeline.standardize(raw, "COVID-19")
    val rows = out.filter(col("country") === "X").orderBy("date")
      .select("new_cases").collect().map(_.getDouble(0))
    assert(rows.toSeq === 0.0 +: Seq.fill(7)(10.0))
    out.collect()
    val helper =
      new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val windows = helper.collect(out.queryExecution.executedPlan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "the per-country lag is a window")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "a Window without a partition key moves every row to one partition")
  }
}
