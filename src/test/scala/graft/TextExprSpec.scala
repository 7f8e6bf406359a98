package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused text expressions must be bit-identical to the composable
  * SQL forms they replace — including edge whitespace, where Java
  * trim/split semantics differ from Spark SQL's (space-only trim,
  * trailing empties kept).
  */
class TextExprSpec extends AnyFunSuite with SparkSuite {

  private val hofShingles = "IF(size(split(trim(text), '\\\\s+')) < 3, " +
    "cast(array() as array<string>), " +
    "transform(sequence(1, size(split(trim(text), '\\\\s+')) - 2), " +
    "i -> concat_ws(' ', slice(split(trim(text), '\\\\s+'), i, 3))))"

  private def lanesFromHof(i: Int) =
    s"array_min(transform(transform($hofShingles, t -> md5(t)), " +
      s"h -> substring(h, ${(i - 1) * 8 + 1}, 8)))"

  test("graft_shingles == SQL trim+split shingles, incl. edge whitespace") {
    val sp = spark
    import sp.implicits._
    val df = Seq("\ta b c", "a  b\tc d ", "  x y  ", "", "one two",
      "a b c d e f").toDF("text")
    val cmp = df.select(
      expr("graft_shingles(text)").as("fused"),
      expr(hofShingles).as("hof"))
    val bad = cmp.filter(not(col("fused") <=> col("hof"))).count()
    assert(bad === 0, cmp.collect().mkString("; "))
  }

  test("graft_shingle_set == array_distinct(graft_shingles) on documents") {
    val df = Tables(spark, sf, "documents")
    val cmp = df.select(
      expr("graft_shingle_set(text)").as("fused"),
      array_distinct(expr("graft_shingles(text)")).as("hof"))
    assert(cmp.filter(not(col("fused") <=> col("hof"))).count() === 0)
  }

  test("graft_simhash16 == composable transform+filter SimHash") {
    val sp = spark
    import sp.implicits._
    val toks = "array_distinct(split(trim(text), '\\\\s+'))"
    val hs = s"transform($toks, t -> md5(t))"
    def bit(j: Int) =
      s"IF(size(filter(hsx, h -> substring(h, ${j + 1}, 1) >= '8')) " +
        s"* 2 >= size(hsx), '1', '0')"
    val sh = (0 until 16).map(bit).mkString("concat(", ", ", ")")
    // real corpus PLUS the empty/whitespace edge, where the fused form
    // once diverged (tokens() returned no tokens; split(trim(''))
    // returns one empty token)
    val edge = Seq("", "   ", "\t", "one").toDF("text")
      .select(col("text"))
    val cmp = Tables(spark, sf, "documents").select("text")
      .unionByName(edge)
      .withColumn("hsx", expr(hs))
      .select(expr("graft_simhash16(text)").as("fused"),
        expr(sh).as("hof"))
    assert(cmp.filter(not(col("fused") <=> col("hof"))).count() === 0,
      cmp.collect().mkString("; "))
  }

  test("text expressions support whole-stage codegen (not CodegenFallback)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val l = Literal("a b c d")
    val exprs = Seq(
      graft.functions.Shingles(l),
      graft.functions.ShingleSet(l),
      graft.functions.MinHashLanes(l),
      graft.functions.SimHash16(l))
    exprs.foreach(e => assert(!e.isInstanceOf[CodegenFallback], e.getClass))
  }

  test("graft_minhash_lanes == SQL minhash lanes on real documents") {
    val df = Tables(spark, sf, "documents")
    val cmp = df.select(
      expr("graft_minhash_lanes(text)").as("fused"),
      array((1 to 4).map(i => expr(lanesFromHof(i))): _*).as("hof"))
    assert(cmp.filter(not(col("fused") <=> col("hof"))).count() === 0)
  }

  test("inlined md5Lanes is bit-identical to java.security MD5") {
    import graft.functions.TextHashing
    val md = java.security.MessageDigest.getInstance("MD5")
    val rnd = new scala.util.Random(42)
    val lanes = new Array[Int](4)
    // empty, boundary lengths around the 55/56-byte single-block limit
    // and the 64-byte block size, plus random multi-block strings
    val cases = Seq("", "a", "word one two", "x" * 55, "x" * 56, "x" * 63,
      "x" * 64, "x" * 65, "x" * 119, "x" * 120, "héllo wörld ☃") ++
      (1 to 200).map(_ => rnd.alphanumeric.take(rnd.nextInt(200)).mkString)
    cases.foreach { s =>
      val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      TextHashing.md5Lanes(bytes, lanes)
      val got = lanes.map(TextHashing.laneHex).mkString
      val want = TextHashing.md5Hex(md, s)
      assert(got === want, s"md5 mismatch for len=${bytes.length}")
    }
  }
}
