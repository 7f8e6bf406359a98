package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType,
  LongType, StringType, StructField, StructType}

/** Full-pipeline parity with the reference ETL (SURVEY.md §3): ingest
  * heterogeneous epidemic CSV/JSON, normalize schemas, derive daily deltas
  * from cumulative counters, reshape long/wide, build the star schema, and
  * merge with last-write-wins semantics.
  *
  * Where the reference is row-at-a-time pandas (iterrows dim lookups,
  * two-pass re-extraction), this is declarative: broadcast joins for dim
  * lookups, one cached standardized frame, window functions for deltas.
  * All per-country derivations shuffle once on `country`; dims are
  * dimension-sized, built once on the driver and broadcast.
  *
  * Order-dependence fixes (SURVEY.md §7.4.2): the reference's diff-without-
  * sort and index+1 ids rely on input file order; here deltas order by
  * (date) explicitly and surrogate ids are assigned by name sort order —
  * the golden-parity test compares under id remapping.
  */
object OmsPipeline {

  /** Standard synonym table (reference ETL_OMS.py:12-21 =
    * ETL_OMS_FINAL.py:12-21). Order matters: first match wins.
    */
  val standardColumnMap: Seq[(String, Seq[String])] = Seq(
    "country" -> Seq("location", "country", "Country/Region", "Country",
      "nation", "region"),
    "date" -> Seq("date", "Date", "date_reported", "date_of_observation",
      "report_date", "observation_date"),
    "confirmed" -> Seq("confirmed", "total_cases", "ConfirmedCases",
      "TotalCases", "case_count", "cases", "cases_total"),
    "deaths" -> Seq("deaths", "total_deaths", "Deaths", "Fatalities",
      "TotalDeaths", "dead", "deathcount"),
    "recovered" -> Seq("recovered", "Recoveries", "Recovered",
      "total_recovered"),
    "active" -> Seq("active", "ActiveCases", "currently_active", "Active",
      "ongoing_cases"),
    "new_cases" -> Seq("new_cases", "Daily confirmed", "NewCases",
      "daily_confirmed", "cases_new", "confirmed_today"),
    "new_deaths" -> Seq("new_deaths", "Daily deaths", "NewDeaths",
      "daily_deaths", "new_deaths_smoothed", "deaths_today")
  ).map { case (k, v) => k -> v.map(SchemaMapper.normalize) }

  /** v5 synonym table with geo columns
    * (reference ETL_OMS_OPERATIONNEL.py:36-47).
    */
  val v5ColumnSynonyms: Seq[(String, Seq[String])] = Seq(
    "country" -> Seq("country", "location", "region", "country_region",
      "province_state", "country/region", "countries", "country name",
      "nation"),
    "date" -> Seq("date", "observation_date", "report_date"),
    "confirmed" -> Seq("confirmed", "total_cases", "cases"),
    "deaths" -> Seq("deaths", "total_deaths", "fatalities"),
    "recovered" -> Seq("recovered", "total_recoveries", "recoveries"),
    "active" -> Seq("active", "active_cases"),
    "new_cases" -> Seq("new_cases", "daily_confirmed", "cases_new",
      "new_cases_smoothed"),
    "new_deaths" -> Seq("new_deaths", "daily_deaths", "new_deaths_smoothed"),
    "latitude" -> Seq("lat", "latitude"),
    "longitude" -> Seq("long", "longitude")
  ).map { case (k, v) => k -> v.map(SchemaMapper.normalize) }

  val measureCols: Seq[String] =
    Seq("confirmed", "deaths", "recovered", "active", "new_cases",
      "new_deaths")

  /** Filename → disease, first keyword match, else "Inconnue"
    * (reference ETL_OMS_OPERATIONNEL.py:19-23,76-81).
    */
  val maladiesMapping: Seq[(String, String)] = Seq(
    "covid" -> "COVID-19", "coronavirus" -> "COVID-19",
    "covid19" -> "COVID-19", "monkeypox" -> "Monkeypox",
    "mpox" -> "Monkeypox", "ebola" -> "Ebola Virus Disease")

  def detectMaladie(fileName: String): String = {
    val n = fileName.toLowerCase
    maladiesMapping.collectFirst { case (k, v) if n.contains(k) => v }
      .getOrElse("Inconnue")
  }

  /** [[detectMaladie]] over a column of file paths, for frames that span
    * several files. The keywords are ASCII letters, which URL-encoding
    * never escapes, so an encoded path detects like its decoded form. */
  private val maladieOf = udf(detectMaladie _)

  /** Extension-dispatch source (reference ETL_OMS.py:32-36). */
  def extract(spark: SparkSession, path: String): DataFrame =
    if (path.endsWith(".json"))
      spark.read.option("multiLine", true).json(path)
    else
      spark.read.option("header", true).option("inferSchema", true).csv(path)

  /** EP1/EP2 transform (reference ETL_OMS_FINAL.py:50-71): synonym
    * mapping, lenient date coerce + null-drop, pandemic literal, measure
    * completion, conditional delta derivation, fixed projection.
    * A frame with no mappable country raises, like ETL_OMS_FINAL.py:53-54.
    */
  def standardize(raw: DataFrame, pandemicName: String): DataFrame = {
    val mapped = SchemaMapper.applyMapping(raw, standardColumnMap)
    // country is load-bearing downstream (delta windows partition on it,
    // the projection selects it), so a missing mapping always raises
    // here with a clear message — like ETL_OMS_FINAL.py:53-54
    if (!mapped.columns.contains("country"))
      throw new IllegalArgumentException(
        "column 'country' missing after mapping")
    // lenient multi-format parse, null on failure — pandas
    // to_datetime(errors="coerce") accepts ISO and US-style dates
    // (covid_global_3.csv uses M/d/yy); the coalesce chain mirrors the
    // v5 strict-then-lenient fallback (ETL_OMS_OPERATIONNEL.py:100-106).
    val parseDate = expr("coalesce(" +
      "try_to_timestamp(string(date)), " +
      "try_to_timestamp(string(date), 'M/d/yy'), " +
      "try_to_timestamp(string(date), 'M/d/yyyy'))")
    val withDate =
      (if (mapped.columns.contains("date"))
        mapped.withColumn("date", parseDate)
      else mapped.withColumn("date", lit(null).cast("timestamp")))
        .na.drop(Seq("date"))
        .withColumn("pandemic", lit(pandemicName))
    val complete = measureCols.foldLeft(withDate) { (df, c) =>
      if (df.columns.contains(c)) df.withColumn(c, col(c).cast(DoubleType))
      else df.withColumn(c, lit(null).cast(DoubleType))
    }
    val derived = deriveDeltas(complete)
    derived.select(("country" +: "date" +: measureCols :+ "pandemic")
      .map(col): _*)
  }

  /** Conditional per-country delta derivation (reference
    * ETL_OMS_FINAL.py:64-68): only when the delta column is entirely
    * null does the cumulative diff kick in. "Entirely" is per input
    * file: `source` names the column that tells a union's files apart,
    * and the gate is a window count over it, so a whole directory stays
    * one lazy plan — no driver actions, no per-file jobs. A frame
    * without `source` is one file: its gate is one global aggregate
    * cross-joined onto the frame (still lazy, and the rows keep their
    * partitions — a window without a partition key would move them
    * all to one). The diff is a window lag over
    * (source, country) ordered by date (the reference relies on file
    * order — a latent bug SURVEY.md §7.4.2 resolves with the explicit
    * sort).
    */
  def deriveDeltas(df: DataFrame, treatZeroAsMissing: Boolean = false,
      source: Option[String] = None): DataFrame = {
    val file = source.map(col).toSeq
    // duplicate (country, date) rows (multi-file or province-level
    // inputs) need a value tiebreak or lag() is partition-order
    // dependent; cumulative columns give a deterministic total order up
    // to fully-identical rows (whose lag is then identical anyway)
    val wTie = Window.partitionBy(file :+ col("country"): _*)
      .orderBy(col("date"), col("confirmed"), col("deaths"))
    // v3/v4 gate: column entirely null (ETL_OMS_FINAL.py:64); v5 gate:
    // entirely zero (ETL_OMS_OPERATIONNEL.py:141) — unified as "no
    // meaningful value present"
    def meaningful(c: String): Column =
      if (treatZeroAsMissing) count(when(col(c) =!= 0.0, 1))
      else count(col(c))
    def diffed(cum: String): Column =
      coalesce(col(cum) - lag(cum, 1).over(wTie), lit(0.0))
    val gated = source match {
      // the gates are computed first: their shuffle on the file key
      // also serves the (file, country) lag, so a union shuffles once
      case Some(_) =>
        val wFile = Window.partitionBy(file: _*)
        df.withColumn("__nc_present", meaningful("new_cases").over(wFile))
          .withColumn("__nd_present", meaningful("new_deaths").over(wFile))
      case None =>
        df.crossJoin(df.agg(meaningful("new_cases").as("__nc_present"),
          meaningful("new_deaths").as("__nd_present")))
    }
    gated
      .withColumn("new_cases", when(col("__nc_present") === 0L,
        diffed("confirmed")).otherwise(col("new_cases")))
      .withColumn("new_deaths", when(col("__nd_present") === 0L,
        diffed("deaths")).otherwise(col("new_deaths")))
      .drop("__nc_present", "__nd_present")
  }

  /** v4 typed-default completion (reference
    * ETL_OMS_FINAL_Upgraded.py:71-80): absent country → "Unknown", absent
    * date → now(), absent measures → 0.
    */
  def completeWithDefaults(df: DataFrame): DataFrame = {
    val wanted = Seq("country", "date") ++ measureCols
    wanted.foldLeft(df) { (acc, c) =>
      if (acc.columns.contains(c)) acc
      else c match {
        case "country" => acc.withColumn(c, lit("Unknown"))
        case "date"    => acc.withColumn(c, current_timestamp())
        case _         => acc.withColumn(c, lit(0).cast(DoubleType))
      }
    }
  }

  /** v5 per-capita → absolute conversion (reference
    * ETL_OMS_OPERATIONNEL.py:121-138): columns selected by name substring,
    * rate * population / unit, rounded and cast to int — the reference's
    * `.round().astype(int)`. The target routing reproduces the
    * reference's own asymmetric rule verbatim
    * (ETL_OMS_OPERATIONNEL.py:122-138): per-100k rates go to `deaths`
    * only when named `excess_deaths` (so a `deaths_per_100k` column
    * lands in `confirmed` — reference semantics under reproduction, not
    * a routing bug), per-million rates go to `deaths` for any
    * deaths-named column. `population` is injectable — the reference's
    * lookup returns None in practice (dead code preserved as a no-op
    * default).
    */
  def convertPerCapita(df: DataFrame,
      population: Option[Double] = None): DataFrame =
    population.fold(df) { pop =>
      df.columns.foldLeft(df) { (acc, c) =>
        val per100k = c.contains("per_100_000") || c.contains("per_100k")
        val perMillion = c.contains("per_million")
        if (!per100k && !perMillion) acc
        else {
          val unit = if (per100k) 100000.0 else 1000000.0
          val target =
            if (per100k && c.contains("excess_deaths")) "deaths"
            else if (perMillion && c.contains("deaths")) "deaths"
            else "confirmed"
          acc.withColumn(target,
            round(col(c).cast(DoubleType) * pop / unit).cast("int"))
        }
      }
    }

  /** v5 geo cleanup (reference ETL_OMS_OPERATIONNEL.py:147-148):
    * coerce-to-null numeric + 6dp rounding on coordinates.
    */
  def cleanCoordinates(df: DataFrame): DataFrame =
    Seq("latitude", "longitude").foldLeft(df) { (acc, c) =>
      if (!acc.columns.contains(c)) acc
      else acc.withColumn(c, round(col(c).cast(DoubleType), 6))
    }

  /** Indicator → unit map (reference ETL_OMS.py:23-30). */
  val indicatorUnits: Map[String, String] = Map(
    "confirmed" -> "cases", "deaths" -> "deaths", "recovered" -> "patients",
    "active" -> "patients", "new_cases" -> "cases", "new_deaths" -> "deaths")

  /** EP1 long format (reference ETL_OMS.py:76-85): melt + unit lookup +
    * null-value drop.
    */
  def toLongFormat(standardized: DataFrame): DataFrame = {
    val unitMap = typedLit(indicatorUnits)
    standardized
      .unpivot(Array(col("country"), col("date"), col("pandemic")),
        measureCols.map(col).toArray, "indicator", "value")
      .withColumn("unit",
        coalesce(element_at(unitMap, col("indicator")), lit("unknown")))
      .na.drop(Seq("value", "date"))
  }

  /** EP4/V2 wide pivot for visualization (reference ETL_OMS_V2.py:25-36).
    * `min` stands in for pandas' order-sensitive `first` (deterministic;
    * values are unique per group here anyway).
    */
  def toWideFormat(longDf: DataFrame): DataFrame =
    longDf.groupBy("date", "country", "pandemic")
      .pivot("indicator", measureCols)
      .agg(min("value"))
      .na.fill(0.0, measureCols)

  final case class StarSchema(pays: DataFrame, region: DataFrame,
      maladie: DataFrame, statistique: DataFrame)

  /** EP2 star schema (reference ETL_OMS_FINAL.py:74-100): one disease,
    * so maladie is the one-row literal dim (present even on empty
    * input) and every fact row is disease 1. Runs one query when called,
    * [[star]]'s collect of the distinct keys (under AQE, its shuffle and
    * its result are two jobs); the fact stays lazy.
    */
  def starSchema(standardized: DataFrame, pandemicName: String,
      spark: SparkSession): StarSchema = {
    val sp = spark
    import sp.implicits._
    star(standardized,
      Some(Seq((1, pandemicName)).toDF("id_maladie", "nom_maladie")))
  }

  /** `values` in the order `row_number().over(Window.orderBy(c))` numbers
    * a column `c` of type `dt`: Spark's own ascending order, nulls first.
    * For strings that is UTF-8 byte order, which is not Java's
    * `String.compareTo` (UTF-16 units) beyond the Basic Multilingual
    * Plane.
    */
  private def sparkOrder(values: Seq[Any], dt: DataType): Seq[Any] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    values.sortBy(v => InternalRow(toCatalyst(v)))(
      InterpretedOrdering.forSchema(Seq(dt)))
  }

  /** A relation of `rows` held on the driver: joins broadcast it and
    * writes read it without running its lineage again. */
  private def local(spark: SparkSession, fields: Seq[StructField],
      rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, StructType(fields))

  /** The dims and the fact both star builders share. The dims are built
    * once, on the driver, from one collect of the distinct (country,
    * pandemic) keys — the reference's driver-side dim cache
    * (ETL_OMS_OPERATIONNEL.py:229-234). Surrogate ids are ordinal over
    * name order ([[sparkOrder]]; the reference uses first-appearance
    * index+1, which depends on input order); region mirrors pays 1:1 as
    * in the reference (ETL_OMS_FINAL.py:78-81), so one broadcast lookup
    * on country gives a fact row both ids. Without `oneDisease` the
    * maladie dim spans the diseases seen and a second broadcast lookup
    * keys each row to its own; with it every row is disease 1.
    */
  private def star(standardized: DataFrame,
      oneDisease: Option[DataFrame]): StarSchema = {
    val spark = standardized.sparkSession
    val distinctKeys = standardized.select("country", "pandemic").distinct()
    val Seq(country, pandemic) = distinctKeys.schema.fields.toSeq
    val keys = distinctKeys.collect().toSeq
    def numbered(i: Int): Seq[(Any, Int)] =
      sparkOrder(keys.map(_.get(i)).distinct,
        distinctKeys.schema(i).dataType).zipWithIndex
        .map { case (v, n) => (v, n + 1) }
    val id = (n: String) => StructField(n, IntegerType, nullable = false)
    val countries = numbered(0)
    val pays = local(spark, Seq(country, id("id_pays")),
      countries.map { case (c, n) => Row(c, n) })
    val region = local(spark,
      Seq(id("id_region"), country.copy(name = "nom_region"), id("id_pays")),
      countries.map { case (c, n) => Row(n, c, n) })
    val withPays = standardized.join(broadcast(pays), Seq("country"))
    val (maladie, keyed, idMaladie) = oneDisease match {
      case Some(one) => (one, withPays, lit(1))
      case None =>
        val dim = local(spark,
          Seq(id("id_maladie"), pandemic.copy(name = "nom_maladie")),
          numbered(1).map { case (p, n) => Row(n, p) })
        (dim, withPays.join(broadcast(dim),
          col("pandemic") === col("nom_maladie")), col("id_maladie"))
    }
    val fact = keyed
      .select(idMaladie.as("id_maladie"), col("id_pays").as("id_region"),
        col("date"),
        col("new_deaths").as("nouveau_mort"),
        col("new_cases").as("nouveau_cas"),
        col("deaths").as("total_mort"))
    StarSchema(pays, region, maladie, fact)
  }

  /** v5 pre-load dedup-agg (reference ETL_OMS_OPERATIONNEL.py:160-166):
    * collapse duplicate (id_region, date) rows. `min` replaces the
    * order-sensitive `first` on id_maladie (single disease per run makes
    * them equivalent).
    */
  def dedupAgg(fact: DataFrame): DataFrame =
    fact.groupBy("id_region", "date").agg(
      min("id_maladie").as("id_maladie"),
      sum("nouveau_mort").as("nouveau_mort"),
      sum("nouveau_cas").as("nouveau_cas"),
      max("total_mort").as("total_mort"))

  /** U2 fact upsert: last-write-wins on (id_region, date), incoming beats
    * existing (reference ON CONFLICT DO UPDATE,
    * ETL_OMS_OPERATIONNEL.py:202-211).
    */
  def upsertFact(existing: DataFrame, incoming: DataFrame): DataFrame = {
    // tiebreak beyond src_priority: if one BATCH carries duplicate
    // (id_region, date) rows, ordering by priority alone would let the
    // survivor flip with partition-internal arrival order across
    // reruns/retries — order by every payload column too, so the choice
    // is a pure function of row content (the reference's sequential
    // ON CONFLICT loop is order-deterministic; a set-based merge must
    // buy determinism from the data instead)
    val payload = existing.columns.toSeq
      .filterNot(Set("id_region", "date").contains)
    val w = Window.partitionBy("id_region", "date")
      .orderBy(col("src_priority").desc +: payload.map(col(_).desc): _*)
    existing.withColumn("src_priority", lit(0))
      .unionByName(incoming.withColumn("src_priority", lit(1)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("src_priority", "rn")
  }

  /** U1 dim upsert: insert-if-absent with stable ids for existing rows
    * (reference get-or-insert, ETL_OMS_OPERATIONNEL.py:263-284), merged
    * on the driver: a dimension is dimension-sized. The dim's
    * `(name, id)` rows and the distinct incoming names are collected;
    * each name the dim lacks gets `max(id) + its ordinal` in name order
    * ([[sparkOrder]]), after the existing rows. A null name never
    * matches an existing one, so an incoming null is always appended.
    * The result is a local relation with the dim's `(name, id)` schema;
    * the id column must be `int` or `bigint`.
    */
  def upsertDim(dim: DataFrame, names: DataFrame, nameCol: String,
      idCol: String): DataFrame = {
    val current = dim.select(nameCol, idCol)
    val (nameField, idField) = (current.schema(0), current.schema(1))
    val toId: Long => Any = idField.dataType match {
      case IntegerType => Math.toIntExact(_)
      case LongType => identity
      case t => throw new IllegalArgumentException(
        s"upsertDim: id column $idCol is ${t.simpleString}, not int/bigint")
    }
    val rows = current.collect().toSeq
    val known = rows.map(_.get(0)).filter(_ != null).toSet
    val maxId = rows.flatMap(r => Option(r.get(1)))
      .map(_.asInstanceOf[Number].longValue).maxOption.getOrElse(0L)
    val incoming = names.select(nameCol)
    // names already on the driver take their distinct there: Spark's
    // would run a shuffle job and a result job
    val fresh = sparkOrder(
      (if (names.isLocal) incoming else incoming.distinct()).collect()
        .toSeq.map(_.get(0)).distinct
        .filterNot(n => n != null && known(n)),
      incoming.schema(0).dataType)
    local(dim.sparkSession,
      Seq(nameField.copy(
        nullable = nameField.nullable || incoming.schema(0).nullable),
        idField),
      rows ++ fresh.zipWithIndex.map { case (n, i) =>
        Row(n, toId(maxId + i + 1)) })
  }

  /** S5/S6 sinks (reference ETL_OMS_FINAL.py:103-108): CSV with header +
    * JSON records per table. coalesce(1) mirrors the reference's
    * single-file output; drop it for parallel many-file writes at scale.
    * The JSON table is the pandas `orient="records"` single-array shape
    * (see [[saveTableJsonArray]]), not Spark's JSON-lines.
    */
  def saveTable(df: DataFrame, outDir: String, name: String): Unit = {
    // both formats write one computed frame: unpersisted, each write
    // would run the table's whole lineage (joins, windows, upserts)
    // again. A frame the caller already cached is left as it is.
    val own = df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (own) df.persist()
    try {
      df.coalesce(1).write.mode("overwrite")
        .option("header", true).csv(s"$outDir/$name.csv")
      saveTableJsonArray(df, outDir, name)
    } finally if (own) df.unpersist()
  }

  /** S6 shape parity: pandas `to_json(orient="records")` emits ONE JSON
    * array per table (golden `Résultat de l'ETL/Monkeypox/Pays.json`),
    * where Spark's native sink emits JSON-lines. The rows are written
    * distributed (Spark JSON-lines), then stream-concatenated into the
    * array file on the driver — line at a time, constant memory. Reads
    * back with `spark.read.option("multiLine", true).json(...)`.
    */
  def saveTableJsonArray(df: DataFrame, outDir: String,
      name: String): Unit = {
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    val tmpPath = new Path(outDir, s".${name}_jsonl_tmp")
    // Hadoop FS, not java.io.File: the out dir may be hdfs://, s3a://
    // etc., where a local listFiles() would return null and this sink
    // would silently emit an empty array
    val fs = tmpPath.getFileSystem(hconf)
    // pandas emits explicit nulls; Spark's writer drops null fields by
    // default, which would change record shapes vs the golden output
    df.coalesce(1).write.mode("overwrite")
      .option("ignoreNullFields", false).json(tmpPath.toString)
    // listStatus THROWS if the temp dir is missing/unlistable — a failed
    // write must surface, never degrade to "[]" (an empty frame still
    // legitimately yields zero part lines)
    val parts = fs.listStatus(tmpPath)
      .filter(_.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    // concat into a HIDDEN temp target and rename into place at the end:
    // a mid-concat failure must never leave a truncated <name>.json that
    // a later multiLine reader would take for valid output
    val target = new Path(outDir, s"$name.json")
    val targetTmp = new Path(outDir, s".$name.json.tmp")
    var ok = false
    try {
      val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        fs.create(targetTmp, true), java.nio.charset.StandardCharsets.UTF_8))
      try {
        w.write("[")
        var first = true
        parts.foreach { p =>
          val src = new java.io.BufferedReader(new java.io.InputStreamReader(
            fs.open(p.getPath), java.nio.charset.StandardCharsets.UTF_8))
          try {
            var line = src.readLine()
            while (line != null) {
              if (line.nonEmpty) {
                if (!first) w.write(",")
                w.write(line)
                first = false
              }
              line = src.readLine()
            }
          } finally src.close()
        }
        w.write("]")
      } finally w.close()
      if (fs.exists(target) && !fs.delete(target, false))
        throw new java.io.IOException(s"could not replace $target")
      if (!fs.rename(targetTmp, target))
        throw new java.io.IOException(s"rename $targetTmp -> $target failed")
      ok = true
    } finally {
      // always sweep the temps (a failed run must not leak the hidden
      // jsonl dir or a half-written tmp target); on the failure path the
      // sweep is best-effort so the primary error propagates, on success
      // a failed temp-dir delete surfaces as a real leak
      try {
        fs.delete(targetTmp, false)
        fs.delete(tmpPath, true)
        ()
      } catch { case e: Exception => if (ok) throw e }
    }
  }

  def saveStar(star: StarSchema, outDir: String): Unit = {
    saveTable(star.pays, outDir, "Pays")
    saveTable(star.region, outDir, "Region")
    saveTable(star.maladie, outDir, "Maladie")
    saveTable(star.statistique, outDir, "Statistique")
  }

  /** Multi-disease star schema for directory runs: like [[starSchema]]
    * but the maladie dim spans every disease observed (ids by name order)
    * and each fact row is keyed to its own disease through a broadcast
    * lookup — the set-based form of the reference's dim-cache probes.
    */
  def starSchemaMulti(standardized: DataFrame,
      spark: SparkSession): StarSchema =
    star(standardized, None)

  /** v5 per-file standardization (reference
    * ETL_OMS_OPERATIONNEL.py:95-150): v5 synonym map, null completion,
    * strict-then-lenient dates, >=2019 filter, per-capita hook, all-zero
    * delta gate, 6dp coordinate cleanup.
    */
  def standardizeOperational(raw: DataFrame, disease: String,
      population: Option[Double] = None): DataFrame =
    operationalDeltas(operationalRows(raw, lit(disease), population))

  /** The standardized columns of a v5 run, in output order. */
  private val operationalCols: Seq[String] =
    ("country" +: "date" +: measureCols) ++
      Seq("latitude", "longitude", "pandemic")

  /** The column that tells the files of a directory run apart. */
  private val SourceCol = "__source"

  /** The column that tells [[runOperational]] attempts apart. */
  private val AttemptCol = "__attempt"

  /** [[standardizeOperational]] up to the delta gate, projected onto
    * [[operationalCols]] (and [[SourceCol]] when `raw` carries it), so
    * frames of different headers union by name. The date chain parses
    * `string(date)` and the measures are cast to double, so an
    * all-string read and a schema-inferred one give the same rows.
    */
  private def operationalRows(raw: DataFrame, disease: Column,
      population: Option[Double]): DataFrame = {
    val mapped = SchemaMapper.applyMapping(raw, v5ColumnSynonyms)
    val complete = (measureCols ++ Seq("latitude", "longitude"))
      .foldLeft(mapped) { (df, c) =>
        if (df.columns.contains(c)) df.withColumn(c, col(c).cast(DoubleType))
        else df.withColumn(c, lit(null).cast(DoubleType))
      }
    val parseDate = expr("coalesce(" +
      "try_to_timestamp(string(date), 'yyyy-MM-dd'), " +
      "try_to_timestamp(string(date)), " +
      "try_to_timestamp(string(date), 'M/d/yy'), " +
      "try_to_timestamp(string(date), 'M/d/yyyy'))")
    val dated = complete.withColumn("date", parseDate)
      .na.drop(Seq("date"))
      .filter(col("date") >= lit("2019-01-01").cast("timestamp"))
    cleanCoordinates(convertPerCapita(dated, population))
      .withColumn("pandemic", disease)
      .select((operationalCols ++ raw.columns.filter(_ == SourceCol))
        .map(col): _*)
  }

  /** The all-zero delta gate over [[operationalRows]]' output, per file
    * when it carries [[SourceCol]]. */
  private def operationalDeltas(rows: DataFrame): DataFrame =
    deriveDeltas(rows, treatZeroAsMissing = true,
      source = Some(SourceCol).filter(rows.columns.contains))
      .select(operationalCols.map(col): _*)

  /** The column names `spark.read.option("header", true).csv(path)`
    * gives the file, read on the driver with no Spark job: the first
    * non-blank line (a UTF-8 byte-order mark dropped, as Hadoop's line
    * reader does), parsed by univocity with Spark's CSV settings, and
    * empty or duplicate names made safe the way Spark names them. Empty
    * for a file with no such line.
    */
  private[graft] def csvHeader(spark: SparkSession, fs: FileSystem,
      path: Path): Seq[String] = {
    import org.apache.spark.sql.catalyst.csv.CSVOptions
    import org.apache.spark.sql.execution.datasources.csv.CSVUtils
    val conf = spark.sessionState.conf
    val opts = new CSVOptions(Map("header" -> "true"),
      conf.csvColumnPruning, conf.sessionLocalTimeZone)
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      fs.open(path), java.nio.charset.StandardCharsets.UTF_8))
    try {
      val first = Option(in.readLine()).map(_.stripPrefix("\uFEFF"))
      (first.iterator ++
        Iterator.continually(in.readLine()).takeWhile(_ != null))
        .find(_.trim.nonEmpty)
        .map { line =>
          val row = new com.univocity.parsers.csv.CsvParser(
            opts.asParserSettings).parseLine(line)
          CSVUtils.makeSafeHeader(row, conf.caseSensitiveAnalysis, opts)
            .toSeq
        }
        .getOrElse(Nil)
    } finally in.close()
  }

  /** EP3/v5 whole-directory run (reference ETL_OMS_OPERATIONNEL.py:218-369)
    * in one pass. Each CSV's header is read on the driver
    * ([[csvHeader]]), and the files that share a header are read by one
    * all-string scan with that header as its schema. Each JSON file
    * keeps its own schema-inferring read: one record's keys cannot stand
    * for a file's. Files whose mapped columns lack country or date are
    * skipped and counted (ETL_OMS_OPERATIONNEL.py:250-253); a skipped CSV
    * costs no Spark job. The scans union, the delta gate runs once over
    * the union, per file ([[deriveDeltas]]), and the result is one
    * cached frame instead of the reference's two-pass re-extraction.
    * `regionGeo` carries the U3 first-observation-wins lat/long
    * enrichment (ETL_OMS_OPERATIONNEL.py:320-352) as a broadcast join
    * instead of a generated CASE-WHEN UPDATE.
    */
  final case class OperationalResult(processed: Seq[String],
      skipped: Seq[String], star: StarSchema, regionGeo: DataFrame,
      private[graft] val cached: DataFrame) {
    /** Release the run's cached union frame once the star/geo outputs
      * have been written — long-lived sessions otherwise accumulate dead
      * cache blocks.
      */
    def release(): Unit = { cached.unpersist(); () }

    /** Test hook: the cached frame's storage level — NONE after
      * [[release]]. Parallel-suite-safe, unlike counting the
      * JVM-global getPersistentRDDs. */
    private[graft] def cachedStorageLevel
        : org.apache.spark.storage.StorageLevel = cached.storageLevel
  }

  /** Repeatable-read run (r18, VERDICT #7): the pipeline's storage
    * layer is RAW FILES, so its epoch discipline is the directory
    * twin of [[graft.operators.TextOps.consistentProbe]] — fingerprint
    * the listed files (len + mtime) at entry, EAGERLY materialize the
    * cached union (closing the read window), re-fingerprint, and
    * REPLAN from scratch when any input changed mid-read. A feed that
    * rewrites a landing file between the header read and the first
    * action used to be able to serve a silently mixed run
    * (half old file, half new); now the run either reads one
    * consistent directory state or retries onto the next one — the
    * repeatable-read verb on the reference's own workload. Bounded
    * retries; a feed churning faster than the pipeline can read it
    * fails loudly. `onUnionBuilt` is the race-injection test hook
    * (fires inside the read window, before materialization).
    */
  def runOperational(spark: SparkSession, dir: String,
      attempts: Int = 3,
      onUnionBuilt: () => Unit = () => ()): OperationalResult = {
    val r = runOperationalOnce(spark, dir, onUnionBuilt)
    r match {
      case Right(res) => res
      case Left(changed) =>
        require(attempts > 1,
          s"runOperational: input files kept changing mid-read " +
            s"(${changed.take(3).mkString(", ")}) — the feed is " +
            "churning faster than the pipeline can read it; quiesce " +
            "it or raise attempts")
        runOperational(spark, dir, attempts - 1, onUnionBuilt)
    }
  }

  /** One attempt: Right(result) on a consistent read, Left(changed
    * paths) when the directory moved underneath it. */
  private def runOperationalOnce(spark: SparkSession, dir: String,
      onUnionBuilt: () => Unit)
      : Either[Seq[String], OperationalResult] = {
    // Hadoop FS, not java.io.File — the ingest dir may be hdfs://,
    // s3a:// etc. (same rule saveTableJsonArray follows for its out dir)
    val dirPath = new Path(dir)
    val hfs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!hfs.exists(dirPath) || !hfs.getFileStatus(dirPath).isDirectory)
      throw new IllegalArgumentException(s"not a directory: $dir")
    // (len, mtime) straight from the listing — re-statting each path
    // would both double the RPCs and CRASH (FileNotFoundException)
    // on a file deleted between the list and the stat, exactly the
    // churn this read exists to survive; a vanished file must surface
    // as a fingerprint CHANGE, not an error (late r18, review)
    def fingerprint(): Map[String, (Long, Long)] =
      hfs.listStatus(dirPath)
        .filter(st => st.getPath.getName.endsWith(".csv") ||
          st.getPath.getName.endsWith(".json"))
        .map(st => st.getPath.toString ->
          (st.getLen, st.getModificationTime))
        .toMap
    val before = fingerprint()
    val files = before.keys.toSeq.sorted
    // a vanished file must surface as a REPLAN anywhere in the read
    // window — the header reads and the JSON extracts do eager
    // driver-side I/O too, so the guard covers them, not just the cache
    // materialization (late r18, review #2: the first fix only
    // wrapped all.count(), and a file deleted during the per-file
    // extract loop still crashed)
    def vanished(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16)
        .exists(c => c.isInstanceOf[java.io.FileNotFoundException] ||
          (c.isInstanceOf[org.apache.spark.sql.AnalysisException] &&
            Option(c.getMessage).exists(m =>
              m.contains("PATH_NOT_FOUND") ||
                m.contains("does not exist"))))
    var cached: org.apache.spark.sql.DataFrame = null
    val loaded =
      try {
        // one scan per CSV header and one per JSON file; opening a scan
        // with an explicit schema starts no job, so an unmappable CSV
        // costs none
        val (jsons, csvs) = files.partition(_.endsWith(".json"))
        val byHeader = csvs.map(p => p -> csvHeader(spark, hfs, new Path(p)))
          .filter(_._2.nonEmpty).groupMap(_._2)(_._1).toSeq
          .sortBy(_._2.head)
        val scans = byHeader.map { case (header, paths) =>
          paths -> spark.read
            .schema(StructType(header.map(StructField(_, StringType))))
            .option("header", true).csv(paths: _*)
        } ++ jsons.map(p => Seq(p) -> extract(spark, p))
        val mappable = scans.filter { case (_, raw) =>
          val mapped = SchemaMapper.applyMapping(raw, v5ColumnSynonyms)
          mapped.columns.contains("country") &&
            mapped.columns.contains("date")
        }
        val rows = mappable.map { case (_, raw) =>
          operationalRows(
            raw.withColumn(SourceCol, col("_metadata.file_path")),
            maladieOf(col(SourceCol)), population = None)
        }
        // Spark keys its cache by plan, and two scans of one directory
        // plan alike however the files changed in between: a literal
        // unique to this attempt, projected away again (the optimizer
        // drops it), gives the attempt a cache entry of its own
        cached = operationalDeltas(rows.reduceOption(_.unionByName(_))
          .getOrElse(
            throw new IllegalStateException("no mappable files")))
          .withColumn(AttemptCol, lit(java.util.UUID.randomUUID().toString))
          .drop(AttemptCol)
          .cache()
        onUnionBuilt()
        // materialize NOW — every downstream pass serves from the
        // cache, so the consistency the re-fingerprint proves covers
        // them all
        cached.count()
        Right(mappable.flatMap(_._1).toSet)
      } catch {
        case t: Throwable if vanished(t) =>
          if (cached != null) cached.unpersist()
          Left(Seq(s"file vanished mid-read: ${t.getMessage}"))
        case t: Throwable =>
          // any OTHER failure after .cache() — onUnionBuilt throwing,
          // count() dying for a non-vanish reason — must not pin the
          // cached blocks for the session's lifetime (r19, ADVICE #3);
          // release before propagating, and never let a failed
          // unpersist mask the real error
          if (cached != null) {
            try cached.unpersist()
            catch { case scala.util.control.NonFatal(_) => () }
          }
          throw t
      }
    val mappedFiles = loaded match {
      case Left(changed) => return Left(changed)
      case Right(r) => r
    }
    val (processed, skipped) = files.partition(mappedFiles)
    val all = cached
    val after = fingerprint()
    val changed = files.filter(p => !after.get(p).contains(before(p)))
    if (changed.nonEmpty) {
      all.unpersist()
      return Left(changed)
    }
    // disease dimension spans all diseases seen this run, facts keyed to
    // their own disease (reference dim-cache lookups,
    // ETL_OMS_OPERATIONNEL.py:229-234)
    val star = starSchemaMulti(all, spark)
    // U3: first observation (earliest date; coordinate tiebreak for
    // duplicate dates) with both coordinates wins
    val w = Window.partitionBy("country")
      .orderBy(col("date"), col("latitude"), col("longitude"))
    val firstObs = all
      .filter(col("latitude").isNotNull && col("longitude").isNotNull)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("country").as("nom_region"),
        col("latitude").as("obs_lat"), col("longitude").as("obs_long"))
    val regionGeo = star.region
      .join(broadcast(firstObs), Seq("nom_region"), "left")
      .select(col("id_region"), col("nom_region"), col("id_pays"),
        col("obs_lat").as("latitude"), col("obs_long").as("longitude"))
    Right(OperationalResult(processed, skipped, star, regionGeo, all))
  }
}
