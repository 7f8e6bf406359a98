package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Quality
import graft.operators.Quality.Rule._

/** Data-quality expectations: rule evaluation, quarantine routing, the
  * one-aggregate metrics pass, the broadcast plan gate on referential
  * rules, and the single-scan split write.
  */
class QualitySpec extends AnyFunSuite with SparkSuite {

  import spark.implicits._

  /** Crafted batch covering every rule class: id 4 duplicates id 1's key;
    * id 2 has a null name (NotNull) whose range/regex rules must NOT also
    * fire (orthogonality); id 3 is out of range + bad ref; id 5 fails the
    * regex + set rules.
    */
  private def batch = Seq(
    (1L, "alpha", 10.0, "A", 100L),
    (2L, null, 20.0, "A", 101L),
    (3L, "gamma", -5.0, "B", 999L),
    (1L, "alpha2", 30.0, "A", 100L),
    (5L, "Delta!", 40.0, "C", 101L))
    .toDF("id", "name", "score", "grade", "fk")

  private def dim = Seq(100L, 101L).toDF("k")

  private def rules = Seq(
    NotNull("name"),
    InRange("score", 0.0, 50.0),
    Matches("name", "^[a-z]+[0-9]?$"),
    OneOf("grade", Seq("A", "B")),
    UniqueKey(Seq("id")),
    RefIntegrity("fk", dim, "k"))

  test("annotate names exactly the failed rules per row, orthogonally") {
    val got = Quality.annotate(batch, rules)
      .select($"id", $"name", concat_ws(",", $"violations").as("v"))
      .collect().map(r => (r.getLong(0), Option(r.getString(1)).getOrElse(""),
        r.getString(2))).toSet
    assert(got === Set(
      (1L, "alpha", "unique:id"),
      // null name fires not_null ONLY — the range/regex rules skip nulls
      (2L, "", "not_null:name"),
      (3L, "gamma", "in_range:score,ref:fk"),
      (1L, "alpha2", "unique:id"),
      (5L, "Delta!", "matches:name,one_of:grade")))
  }

  test("split partitions the batch; quarantine carries reasons") {
    val (ok, bad) = Quality.split(batch, rules)
    assert(ok.count() === 0) // every crafted row fails something
    assert(bad.count() === 5)
    val clean = Seq((9L, "clean", 1.0, "A", 100L))
      .toDF("id", "name", "score", "grade", "fk")
    val (ok2, bad2) = Quality.split(batch.unionAll(clean), rules)
    assert(ok2.count() === 1 && !ok2.columns.contains("violations"))
    assert(bad2.count() === 5)
  }

  test("metrics: per-rule counts in one aggregate over the annotated frame") {
    val m = Quality.metrics(batch, rules)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(m.keySet === rules.map(_.name).toSet)
    assert(m.values.forall(_._1 == 5L)) // one shared batch total
    assert(m("not_null:name")._2 === 1L)
    assert(m("in_range:score")._2 === 1L)
    assert(m("matches:name")._2 === 1L) // null name must not double-count
    assert(m("one_of:grade")._2 === 1L)
    assert(m("unique:id")._2 === 2L) // BOTH claimants of a dup key
    assert(m("ref:fk")._2 === 1L)
  }

  test("row-local rules compile into the scan projection: ZERO " +
      "exchanges no matter how many rules are declared (plan gate)") {
    val orders = Tables(spark, sf, "orders")
    val rowLocal = Seq[Quality.Rule](
      NotNull("o_custkey"),
      InRange("o_totalprice", 0.0, 300000.0),
      OneOf("o_orderstatus", Seq("O", "F")),
      Matches("o_orderpriority", "^[1-3]-"),
      NotBefore("o_orderdate", "1995-06-01"),
      Custom("price_cap", col("o_totalprice") > lit(1e9)))
    val plan = Quality.annotate(orders, rowLocal)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"row-local rules must not shuffle:\n$plan")
  }

  test("referential rule joins by broadcast (plan gate)") {
    val plan = Quality.annotate(batch, Seq(RefIntegrity("fk", dim, "k")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"ref-integrity must broadcast the dim keys, got:\n$plan")
  }

  test("writeSplit routes both outputs from one scan via a partition column") {
    val dir = java.nio.file.Files.createTempDirectory("graft_qsplit").toString
    try {
      val full = batch.unionAll(
        Seq((9L, "clean", 1.0, "A", 100L))
          .toDF("id", "name", "score", "grade", "fk"))
      Quality.writeSplit(full, rules, dir)
      val admitted = spark.read.parquet(dir)
        .where($"_admitted" === true)
      val quarantined = spark.read.parquet(dir)
        .where($"_admitted" === false)
      assert(admitted.count() === 1L)
      assert(quarantined.count() === 5L)
      assert(quarantined.where($"violations" === "").count() === 0L)
      // physical layout: one write, two partition directories
      val parts = new java.io.File(dir).listFiles()
        .map(_.getName).filter(_.startsWith("_admitted=")).sorted
      assert(parts.toSeq === Seq("_admitted=false", "_admitted=true"))
    } finally { // deepest-first walk, stream closed before deleting
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val paths =
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.toList
        finally walk.close()
      paths.foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("metrics melts through the Column API: a Custom rule named " +
      "with a quote/backslash survives (r18, ADVICE — the former " +
      "selectExpr stack parsed it as SQL text)") {
    val hostile = Seq[Quality.Rule](
      Custom("it's a 'quoted' name", col("score") < lit(0.0)),
      Custom("back\\slash", col("score") > lit(35.0)))
    val m = Quality.metrics(batch, hostile)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(m === Map(
      "it's a 'quoted' name" -> 1L, // id 3's -5.0
      "back\\slash" -> 1L))         // id 5's 40.0
  }

  test("metrics over an EMPTY batch reports zero violations, not " +
      "null rows (r18, ADVICE — SUM over zero rows is NULL)") {
    val m = Quality.metrics(batch.limit(0), rules)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(m.length === rules.size)
    assert(m.forall { case (_, total, v) => total == 0L && v == 0L })
  }

  test("FiniteArray flags NULL elements (they null out downstream " +
      "cosine/L2 exactly like NaN); NormInRange stays orthogonally " +
      "silent on them (r18, ADVICE)") {
    val vecs = Seq(
      (1L, Seq[java.lang.Float](1.0f, 0.5f)),
      (2L, Seq[java.lang.Float](null, 0.1f)),
      (3L, Seq[java.lang.Float](Float.NaN, 0.1f)),
      (4L, Seq[java.lang.Float](0.0f, 0.0f)))
      .toDF("id", "v")
    val got = Quality.annotate(vecs, Seq[Quality.Rule](
      FiniteArray("v"), NormInRange("v", 1e-6, 1e6)))
      .select($"id", concat_ws(",", $"violations").as("viol"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(
      1L -> "",
      2L -> "finite:v", // null element: finite fires, norm stays silent
      3L -> "finite:v",
      4L -> "norm:v"))
  }

  test("SchemaMatches (r18): a drifted batch is named per-column " +
      "with the stable summary; a conforming one stays silent; " +
      "allowExtra tolerates passthrough columns") {
    import org.apache.spark.sql.types._
    val expected = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val conforming = Seq((1L, "a", 1.0)).toDF("id", "name", "score")
    val drifted = Seq(("1", "a", 9L)) // id retyped, score lost, xtra new
      .toDF("id", "name", "xtra")

    // conforming: no flags, and the metrics summary row exists at 0 —
    // the drift gauge's baseline
    val okAnn = Quality.annotate(conforming,
      Seq(SchemaMatches(expected)))
    assert(okAnn.where(size($"violations") > 0).count() === 0)
    val okM = Quality.metrics(conforming, Seq(SchemaMatches(expected)))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(okM === Map("schema" -> 0L))

    // drifted: EVERY row flagged with the summary + per-column names
    val v = Quality.annotate(drifted, Seq(SchemaMatches(expected)))
      .select(concat_ws(",", $"violations").as("v"))
      .collect().map(_.getString(0)).toSet
    assert(v === Set(
      "schema,schema:extra:xtra,schema:missing:score,schema:retyped:id"))
    val m = Quality.metrics(drifted, Seq(SchemaMatches(expected)))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(m.toSet === Set(
      ("schema", 1L, 1L),
      ("schema:extra:xtra", 1L, 1L),
      ("schema:missing:score", 1L, 1L),
      ("schema:retyped:id", 1L, 1L)))

    // allowExtra: the passthrough column stops firing; the real
    // breaks still do
    val v2 = Quality.annotate(drifted,
      Seq(SchemaMatches(expected, allowExtra = true)))
      .select(concat_ws(",", $"violations").as("v"))
      .collect().map(_.getString(0)).toSet
    assert(v2 === Set(
      "schema,schema:missing:score,schema:retyped:id"))

    // composes with value rules: the schema names AND the row-local
    // names ride the same array
    val mixed = Quality.annotate(drifted, Seq[Quality.Rule](
      SchemaMatches(expected, allowExtra = true), NotNull("name")))
      .select(concat_ws(",", $"violations").as("v"))
      .collect().map(_.getString(0)).toSet
    assert(mixed === Set(
      "schema,schema:missing:score,schema:retyped:id"))
  }

  test("footerSchemas: the distributed rung (fan-out past the " +
      "threshold) reads per-file schemas bit-identically to the " +
      "driver rung, and the problem union names every drifted file") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_footer").toString
    try {
      // four files against one expectation: conforming / lost a
      // column / gained a column / retyped a column — per-file
      // schemas are the point (a merged read UNIONS columns and
      // would hide the file that lost one)
      Seq((1L, "a", 2L)).toDF("id", "name", "n")
        .coalesce(1).write.parquet(s"$dir/ok")
      Seq((2L, "b")).toDF("id", "name")
        .coalesce(1).write.parquet(s"$dir/lost")
      Seq((3L, "c", 4L, "x")).toDF("id", "name", "n", "xtra")
        .coalesce(1).write.parquet(s"$dir/gained")
      Seq((4L, "d", "9")).toDF("id", "name", "n")
        .coalesce(1).write.parquet(s"$dir/retyped")
      val files = Seq("ok", "lost", "gained", "retyped").flatMap { d =>
        val p = new org.apache.hadoop.fs.Path(s"$dir/$d")
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.listStatus(p).filter(_.isFile)
          .map(_.getPath.toString).filter(_.endsWith(".parquet"))
      }.sorted
      assert(files.size === 4)
      val driverRung = Quality.footerSchemas(spark, files)
      // driverMax = 0 forces the Spark-job rung
      val jobRung = Quality.footerSchemas(spark, files, driverMax = 0)
      assert(jobRung.map(_.json) === driverRung.map(_.json),
        "the two rungs must be bit-exact")
      val expected = StructType(Seq(
        StructField("id", LongType), StructField("name", StringType),
        StructField("n", LongType)))
      val problems = jobRung
        .flatMap(a => Quality.schemaProblems(a,
          SchemaMatches(expected)))
        .distinct.sorted
      assert(problems === Seq("schema:extra:xtra", "schema:missing:n",
        "schema:retyped:n"))
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
      ()
    }
  }

  test("q_expect / q_quarantine registry entries run with teeth on testdata") {
    val m = SparkEntry.queries("q_expect")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(m.size === 7)
    assert(m("not_null:o_custkey") === 0L) // the generator keeps keys clean
    assert(m("unique:o_orderkey") === 0L)
    assert(m("one_of:o_orderstatus") > 0L) // and the value rules FIRE
    assert(m("not_before:o_orderdate") > 0L)

    val q = SparkEntry.queries("q_quarantine")(spark, sf)
    val reasons = q.select("violations").as[String].collect()
    assert(reasons.nonEmpty)
    assert(reasons.exists(_.contains("one_of:lang")))
    assert(reasons.exists(_.contains("unique:doc_id"))) // injected dups
    assert(reasons.forall(_.nonEmpty))
  }
}
