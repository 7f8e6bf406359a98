package graft

import graft.operators.{Ann, AnnIndex, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PLANE-MODULUS PIN SERVING + HEALING (ADVICE r15 #1/#2): the
  * serving path must band external queries under the modulus the
  * STORED bands were computed with — banding under any other puts
  * query and stored keys in different hash families, so candidates
  * become uncorrelated with similarity and recall collapses with no
  * error. Gated here:
  *   - a `_cfg` pin LACKING `planemod` does not say which family the
  *     bands live in: scoreExternal refuses, naming the repair;
  *   - a pin carrying a non-derived value (a fixed modulus, the
  *     half-migrated-restore shape) serves under that pin;
  *   - fsck names the violation (missing pin / pin != derived);
  *   - ONE repair() rebuilds the bands member under the derived
  *     modulus from the payload sibling, re-pins, and the family
  *     then serves the derived collision set with fsck clean;
  *   - a freshly built family carries the derived pin and has no
  *     planemod violation.
  */
class LegacyBandingSpec extends AnyFunSuite with SparkSuite {

  private val pid = ProcessHandle.current().pid()
  private val NB = 4
  private val BT = 2
  private val Dim = 64
  private val derived = Ann.planeModulus(NB * BT, Dim)
  /** A fixed plane modulus that differs from the derived one. */
  private val Forked = 29

  private def emb = Tables(spark, sf, "embeddings")

  private def drop(tables: String*): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def famTables(a: String): Seq[String] =
    Seq(a, s"${a}_vec", s"${a}_cfg", s"${a}_del", s"${a}_hold",
      s"${a}_compact", s"${a}_old")

  private def queries: DataFrame =
    emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding"))

  /** The stateless collision-set oracle: corpus banded under
    * `corpusM`, queries under `queryM`, joined on the slot-prefixed
    * band key exactly as the serving path joins. Equal moduli give
    * the set a correct probe must produce; unequal moduli reproduce
    * the bug's mixed-family set. */
  private def collisions(a: String, corpusM: Int,
      queryM: Int): Set[(Long, Long)] = {
    graft.functions.VectorFunctions.register(spark)
    def keyed(df: DataFrame, vcol: String, idAs: String, m: Int) =
      df.withColumn("bands", Ann.bandKeys(col(vcol), NB, BT, Dim, m))
        .select(col(idAs), posexplode(col("bands")))
        .toDF(idAs, "band_idx", "bits")
        .select(col(idAs), concat(col("band_idx").cast("string"),
          lit(":"), col("bits")).as("band_key"))
    val c = keyed(spark.table(s"${a}_vec").select("vec_id", "v"),
      "v", "vec_id", corpusM)
    val q = keyed(Ann.prepExternal(queries, Dim)
        .select(col("q_id"), col("qv")), "qv", "q_id", queryM)
    q.join(c, "band_key").select("q_id", "vec_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def served(a: String): Set[(Long, Long)] =
    AnnIndex.scoreExternal(queries, spark, a)
      .select("q_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Rewrite `a`'s stored state to bands computed under the fixed
    * [[Forked]] modulus, `_cfg` pinned with `planemodPin` (None = the
    * key absent entirely). */
  private def makeForked(a: String, planemodPin: Option[Int]): Unit = {
    graft.functions.VectorFunctions.register(spark)
    spark.table(s"${a}_vec").select("vec_id", "v", "gen")
      .withColumn("bands", Ann.bandKeys(col("v"), NB, BT, Dim, Forked))
      .select(col("vec_id"), col("gen"), posexplode(col("bands")))
      .toDF("vec_id", "gen", "band_idx", "bits")
      .select(concat(col("band_idx").cast("string"), lit(":"),
        col("bits")).as("band_key"), col("vec_id"), col("gen"))
      .write.mode("overwrite")
      .bucketBy(8, "band_key").sortBy("band_key")
      .saveAsTable(a)
    val sp = spark
    import sp.implicits._
    val base = Seq((Dim, NB, BT)).toDF("dim", "nbands", "bits")
    planemodPin.map(m => base.withColumn("planemod", lit(m)))
      .getOrElse(base)
      .write.mode("overwrite").saveAsTable(s"${a}_cfg")
  }

  test("a pin lacking planemod: the probe refuses naming repair, " +
      "fsck flags it, and one repair() re-pins it into the derived " +
      "family") {
    val a = s"lb_ann_p$pid"
    drop(famTables(a): _*)
    try {
      AnnIndex.write(emb, a, nBands = NB, bits = BT)
      makeForked(a, planemodPin = None)
      val e = intercept[IllegalArgumentException](served(a))
      assert(e.getMessage.contains("repair"), e.getMessage)
      // fsck names the missing pin; repair rebuilds + re-pins
      val v = AnnIndex.family(a).fsck(spark)
      assert(v.exists(_.contains("planemod pin missing")), v.toString)
      val fixed = AnnIndex.family(a).repair(spark)
      assert(fixed.exists(_.contains("derived plane modulus")),
        fixed.toString)
      assert(AnnIndex.family(a).fsck(spark) === Nil)
      assert(TextOps.readIndexConfig(spark, a)
        .flatMap(_.get("planemod")) === Some(derived))
      assert(served(a) === collisions(a, derived, derived))
      // healed family is a clean no-op
      assert(AnnIndex.family(a).repair(spark) === Nil)
    } finally drop(famTables(a): _*)
  }

  test("a pin explicitly carrying the legacy value serves under it " +
      "and fsck flags the fork") {
    val a = s"lb_annp_p$pid"
    drop(famTables(a): _*)
    try {
      AnnIndex.write(emb, a, nBands = NB, bits = BT)
      makeForked(a, planemodPin = Some(Forked))
      // teeth: if banding queries under the derived modulus happened
      // to collide identically on this fixture, the serving assertion
      // would be vacuous
      assert(collisions(a, Forked, Forked) !== collisions(a, Forked,
        derived))
      assert(served(a) === collisions(a, Forked, Forked))
      val v = AnnIndex.family(a).fsck(spark)
      assert(v.exists(_.contains(
        s"planemod pin $Forked != derived $derived")),
        v.toString)
      assert(AnnIndex.family(a).repair(spark)
        .exists(_.contains("derived plane modulus")))
      assert(AnnIndex.family(a).fsck(spark) === Nil)
      assert(served(a) === collisions(a, derived, derived))
    } finally drop(famTables(a): _*)
  }

  test("a freshly built family pins the derived modulus and serves " +
      "under it with no planemod violation") {
    val a = s"lb_annf_p$pid"
    drop(famTables(a): _*)
    try {
      AnnIndex.write(emb, a, nBands = NB, bits = BT)
      assert(TextOps.readIndexConfig(spark, a)
        .flatMap(_.get("planemod")) === Some(derived))
      assert(!AnnIndex.family(a).fsck(spark).exists(_.contains("planemod")))
      assert(served(a) === collisions(a, derived, derived))
    } finally drop(famTables(a): _*)
  }
}
