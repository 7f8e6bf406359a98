package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import graft.pipeline.{OmsPipeline, SchemaMapper}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DateType
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The directory load's read and sink costs. The read
  * (`OmsPipeline.runOperational`) takes CSV headers on the driver, runs
  * one all-string scan per header and the delta gate once over the
  * union; each leg holds it to the file-by-file definition it replaces:
  * Spark's own header names, and
  * `standardizeOperational(extract(f), detectMaladie(f))` per file. The
  * sink (`saveTable`) computes a table once for both its formats, and
  * the whole load, star dimensions built on the driver, holds a job
  * budget with no global window in its tables' plans.
  */
class OmsDirLoadSpec extends AnyFunSuite with SparkSuite {

  private def withDir[T](body: JPath => T): T = {
    val dir = Files.createTempDirectory("graft_omsdirload")
    try body(dir)
    finally {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(dir)
      val paths =
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.toList
        finally walk.close()
      paths.foreach(Files.deleteIfExists(_))
    }
  }

  private def write(dir: JPath, name: String, lines: String*): JPath =
    Files.write(dir.resolve(name), lines.mkString("\n").getBytes(UTF_8))

  // one file per header dialect of perfbench/omsgen.py, a few rows each
  private def jhu(dir: JPath, name: String): JPath = write(dir, name,
    "Province/State,Country/Region,Lat,Long,Date,Confirmed,Deaths," +
      "Recovered,Active",
    ",Peru,-9.1900,-75.0152,12/30/18,5,0,2,3",
    ",Peru,-9.1900,-75.0152,12/31/18,6,0,3,3",
    ",Peru,-9.1900,-75.0152,1/1/19,9,1,4,4",
    ",Peru,-9.1900,-75.0152,1/2/19,14,1,7,6",
    ",Chad,15.4542,18.7322,1/1/19,3,0,1,2",
    ",Chad,15.4542,18.7322,1/2/19,3,1,1,1")

  private def owid(dir: JPath, name: String, newCases: Seq[Int]): JPath =
    write(dir, name, ("iso_code,continent,location,date,total_cases," +
      "new_cases,total_deaths,new_deaths,total_cases_per_million") +:
      newCases.zipWithIndex.map { case (nc, i) =>
        s"FRA,World,France,2020-03-0${i + 1},${10 * (i + 1)},$nc,$i,0," +
          f"${(i + 1) / 3.0}%.3f"
      }: _*)

  private def report(dir: JPath, name: String): JPath = write(dir, name,
    "country,report_date,cases,fatalities,latitude,longitude",
    "Benin,2020-01-01,4,0,9.3077,2.3158",
    "Benin,2020-01-02,9,1,9.3077,2.3158",
    "Benin,2020-01-02,9,1,9.3077,2.3158",
    "Spain,2020-01-01,1,0,40.5000,-3.7000")

  private def json(dir: JPath, name: String): JPath = write(dir, name,
    """[{"country":"Uganda","date":"2020-02-01","total_cases":2,""" +
      """"total_deaths":0,"new_cases":2,"new_deaths":0},""" +
      """{"country":"Uganda","date":"2020-02-02","total_cases":5,""" +
      """"total_deaths":1,"new_cases":3,"new_deaths":1}]""")

  private def unmappable(dir: JPath): JPath = write(dir,
    "hospital_capacity.csv", "facility,beds,occupancy", "H0001,12,0.50")

  test("the driver-side header read names columns as Spark's CSV " +
      "reader does: quoted comma, duplicate, empty name, byte-order mark") {
    withDir { dir =>
      val files = Seq(
        OmsFixtures.path("covid_worldometer_data.csv"),
        write(dir, "quoted.csv", "country,\"Serious,Critical\",date",
          "France,3,2020-03-01").toString,
        write(dir, "duplicate.csv", "country,cases,date,cases",
          "France,1,2020-03-01,2").toString,
        write(dir, "case_duplicate.csv", "Date,country,date",
          "2020-03-01,France,2020-03-01").toString,
        write(dir, "empty_name.csv", "country,,date",
          "France,x,2020-03-01").toString,
        write(dir, "bom.csv", "\uFEFFcountry,date,cases",
          "France,2020-03-01,1").toString,
        write(dir, "bom_blank_first.csv", "\uFEFF", "country,date",
          "France,2020-03-01").toString,
        write(dir, "blank_first.csv", "", "  ", "country,date",
          "France,2020-03-01").toString)
      files.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        assert(OmsPipeline.csvHeader(spark, fs, p) ===
          spark.read.option("header", true).csv(f).columns.toSeq, f)
      }
    }
  }

  /** `runOperational` over `dir` against the file-by-file definition:
    * the same processed/skipped lists and the same standardized rows,
    * order-insensitively. */
  private def assertReadParity(dir: String): Unit = {
    val files = new java.io.File(dir).listFiles().map(_.getName)
      .filter(n => n.endsWith(".csv") || n.endsWith(".json")).toSeq
    val qualified = files.map(n => new org.apache.hadoop.fs.Path(
      new java.io.File(dir, n).toURI).toString).sorted
    val perFile = qualified.map { p =>
      val raw = OmsPipeline.extract(spark, p)
      val cols = SchemaMapper.applyMapping(raw,
        OmsPipeline.v5ColumnSynonyms).columns
      p -> (if (cols.contains("country") && cols.contains("date"))
        Some(OmsPipeline.standardizeOperational(raw,
          OmsPipeline.detectMaladie(p)))
      else None)
    }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val res = OmsPipeline.runOperational(spark, dir)
    try {
      assert(res.processed === perFile.collect { case (p, Some(_)) => p })
      assert(res.skipped === perFile.collect { case (p, None) => p })
      val expected = perFile.flatMap(_._2).reduce(_.unionByName(_))
      assert(res.cached.columns.toSeq === expected.columns.toSeq)
      val got = rows(res.cached)
      assert(got.nonEmpty)
      assert(got === rows(expected))
    } finally res.release()
  }

  test("grouped read = file-by-file standardization on the six OMS " +
      "fixtures") {
    assertReadParity(OmsFixtures.dir)
  }

  test("grouped read = file-by-file standardization on every omsgen " +
      "dialect, two files per CSV header, a per-file delta gate and a " +
      "file name with a space and a non-ASCII character") {
    withDir { dir =>
      jhu(dir, "covid_global_0.csv")
      jhu(dir, "mpox_global_0.csv")
      // one owid file has all-zero new_cases (its deltas are derived),
      // the other real ones (kept): the gate must not mix them
      val owid0 = owid(dir, "coronavirus_owid_0.csv", Seq(0, 0, 0))
      owid(dir, "flu_tracker_0.csv", Seq(10, 0, 10))
      report(dir, "monkeypox_report_0.csv")
      report(dir, "covid répertoire 1.csv")
      json(dir, "ebola_cases_0.json")
      unmappable(dir)
      // the owid dates are ones schema inference types as DATE, so the
      // all-string read parses strings where inference gave dates
      assert(OmsPipeline.extract(spark, owid0.toString)
        .schema("date").dataType === DateType)
      assertReadParity(dir.toString)
    }
  }

  /** Spark jobs `body` starts on this thread. A fence job run after it
    * flushes the listener bus: its start arrives after every earlier
    * job's. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"omsdirload-${java.util.UUID.randomUUID}"
    val fence = s"$group-fence"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`fence`) => fenced.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "runOperational job budget")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, "listener fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  private def runJobs(dir: JPath): Int =
    jobsOf(OmsPipeline.runOperational(spark, dir.toString).release())

  test("job budget: one header's files cost the jobs of one file, and " +
      "an unmappable CSV costs none") {
    withDir { one =>
      withDir { three =>
        jhu(one, "covid_global_0.csv")
        Seq("covid_global_0.csv", "mpox_global_0.csv",
          "ebola_global_0.csv").foreach(jhu(three, _))
        val oneJobs = runJobs(one)
        assert(oneJobs > 0)
        assert(runJobs(three) === oneJobs)
        unmappable(three)
        assert(runJobs(three) === oneJobs)
      }
    }
  }

  test("job and plan budget of a whole directory load: read, star and " +
      "region-geo sinks run 21 jobs over the six fixtures, and no " +
      "table's plan holds a window without a partition key") {
    withDir { out =>
      var plans = Seq.empty[(String, SparkPlan)]
      val jobs = jobsOf {
        val res = OmsPipeline.runOperational(spark, OmsFixtures.dir)
        val s = res.star
        plans = Seq("Pays" -> s.pays, "Region" -> s.region,
          "Maladie" -> s.maladie, "Statistique" -> s.statistique,
          "RegionGeo" -> res.regionGeo)
          .map { case (t, df) => t -> df.queryExecution.executedPlan }
        OmsPipeline.saveStar(s, out.toString)
        OmsPipeline.saveTable(res.regionGeo, out.toString, "RegionGeo")
        res.release()
      }
      // 37 while every table that read a dim planned and ran the dim's
      // distinct and global row_number window again
      assert(jobs === 21)
      val helper = new AdaptiveSparkPlanHelper {}
      plans.foreach { case (t, plan) =>
        val global = helper.collect(plan) {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }
        assert(global.isEmpty, s"$t plans a window without a partition " +
          s"key, which moves every row to one partition:\n$plan")
      }
    }
  }

  test("saveTable computes a table once for its CSV and its JSON write, " +
      "releases it after, and leaves a frame the caller cached cached") {
    withDir { dir =>
      val computed = spark.sparkContext.longAccumulator("rows computed")
      val touch = org.apache.spark.sql.functions.udf { (x: Long) =>
        computed.add(1); x
      }.asNondeterministic()
      val df = spark.range(100).select(touch(col("id")).as("id"))
      OmsPipeline.saveTable(df, dir.toString, "T")
      assert(computed.value === 100L)
      assert(df.storageLevel === StorageLevel.NONE)
      assert(spark.read.option("multiLine", true)
        .json(dir.resolve("T.json").toString).count() === 100L)
      val mine = spark.range(10).toDF("id").cache()
      try {
        mine.count()
        OmsPipeline.saveTable(mine, dir.toString, "U")
        assert(mine.storageLevel !== StorageLevel.NONE)
      } finally mine.unpersist()
    }
  }

  test("upsertDim over two local relations starts no Spark job: the " +
      "dimension and the incoming names are both on the driver") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    // the star's dimensions are built this way: a local relation each
    def local(fields: Seq[StructField], rows: Row*) =
      spark.createDataFrame(rows.asJava, StructType(fields))
    val name = StructField("nom_pays", StringType)
    val dim = local(Seq(name, StructField("id_pays", IntegerType)),
      Row("France", 1), Row("Peru", 2))
    val names = local(Seq(name), Row("Peru"), Row("Chad"), Row("Chad"),
      Row("Benin"))
    assert(dim.isLocal && names.isLocal)
    var out: org.apache.spark.sql.DataFrame = null
    // 2 while the names' distinct ran in Spark: a shuffle job and a
    // result job
    assert(jobsOf {
      out = OmsPipeline.upsertDim(dim, names, "nom_pays", "id_pays")
    } === 0)
    assert(out.collect().map(r => r.getString(0) -> r.getInt(1)).toMap ===
      Map("France" -> 1, "Peru" -> 2, "Benin" -> 3, "Chad" -> 4))
  }
}
