package graft

import graft.pipeline.OmsPipeline
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Algebraic properties from SURVEY.md §5.4, checked over generated data:
  * melt∘pivot round-trip, delta/cumsum inversion, upsert and dedup
  * idempotence. Spark jobs per sample are expensive, so each property
  * samples a handful of generated inputs rather than ScalaCheck's default
  * hundred.
  */
class PropertiesSpec extends AnyFunSuite with SparkSuite {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  private val measureGen = Gen.chooseNum(0.0, 1000.0).map(v =>
    math.floor(v * 100 + 0.5) / 100)

  test("property: melt then pivot round-trips non-null measures") {
    val sp = spark
    import sp.implicits._
    val rowsGen = Gen.nonEmptyListOf(for {
      c <- Gen.oneOf("FR", "PE", "TD")
      day <- Gen.chooseNum(1, 28)
      ms <- Gen.listOfN(6, measureGen)
    } yield (c, f"2024-01-$day%02d", ms(0), ms(1), ms(2), ms(3), ms(4), ms(5)))
    samples(rowsGen, 5).foreach { rows =>
      // localCheckpoint: dropDuplicates-on-subset feeding unpivot/exceptAll
      // trips an attribute-binding INTERNAL_ERROR in Spark 4.1; cutting
      // the lineage sidesteps it (test-input prep only)
      val df = rows.toDF("country", "date_s", "confirmed", "deaths",
        "recovered", "active", "new_cases", "new_deaths")
        .withColumn("date", to_timestamp(col("date_s"))).drop("date_s")
        .withColumn("pandemic", lit("t"))
        .dropDuplicates("country", "date")
        .localCheckpoint()
      val wide = OmsPipeline.toWideFormat(OmsPipeline.toLongFormat(df))
      val cols = Seq("country", "date", "pandemic") ++ OmsPipeline.measureCols
      assert(wide.select(cols.map(col): _*)
        .exceptAll(df.select(cols.map(col): _*)).count() === 0)
      assert(wide.count() === df.count())
    }
  }

  test("property: deltas derived from a cumulative series sum to last-first") {
    val sp = spark
    import sp.implicits._
    val seriesGen = Gen.resize(200, Gen.nonEmptyListOf(Gen.chooseNum(0, 50)))
    samples(seriesGen, 5).foreach { increments =>
      val cum = increments.scanLeft(100.0)(_ + _).tail
      // timestamps strictly increasing in series order (hour steps)
      val rows = cum.zipWithIndex.map { case (c, i) =>
        ("X", f"2024-01-${i / 24 + 1}%02d ${i % 24}%02d:00:00", c)
      }
      val df = rows.toDF("country", "date_s", "confirmed")
        .withColumn("date", to_timestamp(col("date_s"))).drop("date_s")
        .withColumn("deaths", lit(null).cast("double"))
        .withColumn("new_cases", lit(null).cast("double"))
        .withColumn("new_deaths", lit(null).cast("double"))
      val out = OmsPipeline.deriveDeltas(df)
      val total = out.agg(sum("new_cases")).first().getDouble(0)
      assert(math.abs(total - (cum.last - cum.head)) < 1e-6)
    }
  }

  test("property: fact upsert is idempotent and keyed last-write-wins") {
    val sp = spark
    import sp.implicits._
    val batchGen = Gen.nonEmptyListOf(for {
      r <- Gen.chooseNum(1, 5)
      day <- Gen.chooseNum(1, 4)
      v <- measureGen
    } yield (1, r, f"2024-01-0$day", v))
    samples(Gen.zip(batchGen, batchGen), 5).foreach { case (e, i) =>
      val cols = Seq("id_maladie", "id_region", "date", "nouveau_cas")
      val existing = e.toDF(cols: _*).dropDuplicates("id_region", "date")
        .localCheckpoint()
      val incoming = i.toDF(cols: _*).dropDuplicates("id_region", "date")
        .localCheckpoint()
      val once = OmsPipeline.upsertFact(existing, incoming)
      val twice = OmsPipeline.upsertFact(once, incoming)
      assert(once.exceptAll(twice).count() === 0)
      assert(twice.exceptAll(once).count() === 0)
      // every incoming key holds the incoming value
      val diff = once.join(incoming.withColumnRenamed("nouveau_cas", "inc"),
        Seq("id_maladie", "id_region", "date"))
        .filter(col("nouveau_cas") =!= col("inc")).count()
      assert(diff === 0)
    }
  }

  test("property: graft_intersect_size equals reference set intersection") {
    val sp = spark
    import sp.implicits._
    val tok = Gen.oneOf("a", "b", "cc", "dd", "e", "", " x", "zz")
    val arrGen = Gen.listOf(tok)
    samples(Gen.nonEmptyListOf(Gen.zip(arrGen, arrGen)), 3).foreach { rows =>
      val df = rows.toDF("a", "b")
        .withColumn("fused", expr("graft_intersect_size(a, b)"))
        .collect()
      rows.zip(df).foreach { case ((a, b), r) =>
        val expected = a.toSet.intersect(b.toSet).size
        assert(r.getInt(2) === expected, s"a=$a b=$b")
      }
    }
  }

  test("property: heavy hitters exact under any grouping when distinct <= k") {
    val sp = spark
    import sp.implicits._
    val gen = Gen.nonEmptyListOf(Gen.oneOf("p", "q", "r", "s"))
    samples(gen, 3).foreach { values =>
      val truth = values.groupBy(identity).view.mapValues(_.size.toLong).toMap
      Seq(1, 3, 7).foreach { nPart =>
        val got = sp.sparkContext.parallelize(values, nPart).toDF("x")
          .agg(expr("graft_heavy_hitters(x, 8)").as("hh"))
          .select(explode(col("hh")).as("h"))
          .select(col("h.item"), col("h.cnt"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(got === truth, s"partitions=$nPart")
      }
    }
  }

  test("property: exact-sum moments match Spark's var_samp/corr") {
    // the closed-form integer-cents moments must agree with the
    // built-in (order-dependent) estimators to floating precision —
    // determinism alone could hide a wrong formula
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q_stats_moments")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val ref = Tables(spark, sf, "lineitem").groupBy("l_returnflag").agg(
      avg("l_extendedprice").as("m"),
      var_samp("l_extendedprice").as("v"),
      corr("l_quantity", "l_extendedprice").as("c"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    ref.foreach { case (k, (m, v, c)) =>
      val (gm, gv, gc) = got(k)
      // cents quantization bounds: mean to 1 cent, var to ~cents*mean
      assert(math.abs(gm - m) <= 0.01, s"$k mean $gm vs $m")
      assert(math.abs(gv - v) / v <= 1e-4, s"$k var $gv vs $v")
      assert(math.abs(gc - c) <= 1e-4, s"$k corr $gc vs $c")
    }
  }

  test("property: keep-last dedup is idempotent") {
    val sp = spark
    import sp.implicits._
    val gen = Gen.nonEmptyListOf(for {
      k <- Gen.chooseNum(1, 4)
      o <- Gen.chooseNum(1, 100)
      v <- measureGen
    } yield (k, o, v))
    samples(gen, 5).foreach { rows =>
      val df = rows.toDF("k", "o", "v")
      import org.apache.spark.sql.expressions.Window
      def keepLast(d: org.apache.spark.sql.DataFrame) = d
        .withColumn("rn", row_number().over(
          Window.partitionBy("k").orderBy(col("o").desc, col("v").desc)))
        .filter(col("rn") === 1).drop("rn")
      val once = keepLast(df)
      val twice = keepLast(once)
      assert(once.exceptAll(twice).count() === 0)
      assert(once.count() === df.select("k").distinct().count())
    }
  }

  test("property: Pctl.interp matches the plain (n-1)p reference on " +
      "random groups") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.expressions.Window
    // plain-Scala reference: 0-based h=(n-1)p linear interpolation over
    // the sorted values — the definition Spark's percentile and DuckDB's
    // quantile_cont share, and the formula all three Pctl call sites
    // (q_percentile, q_approx_percentile, q_winsorize) now depend on
    def ref(sorted: Vector[Double], p: Double): Double = {
      val h = (sorted.size - 1) * p
      val lo = math.floor(h).toInt
      val v0 = sorted(lo)
      val v1 = if (lo + 1 < sorted.size) sorted(lo + 1) else v0
      v0 + (v1 - v0) * (h - lo)
    }
    val ps = Seq(0.05, 0.25, 0.5, 0.9, 0.95)
    val groupsGen = Gen.nonEmptyMap(for {
      k <- Gen.oneOf("a", "b", "c")
      vs <- Gen.resize(40, Gen.nonEmptyListOf(measureGen))
    } yield k -> vs)
    samples(groupsGen, 4).foreach { groups =>
      val rows = groups.toSeq.flatMap { case (k, vs) =>
        vs.zipWithIndex.map { case (v, i) => (k, i.toLong, v) }
      }
      val w = Window.partitionBy("g").orderBy(col("v"), col("rid"))
      val wAll = Window.partitionBy("g")
      val ranked = rows.toDF("g", "rid", "v")
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wAll))
      val aggs = ps.map(p =>
        Pctl.interp(p, col("rn"), col("n"), col("v")).as(s"p$p"))
      val got = ranked
        .filter(Pctl.boundary(ps, col("rn"), col("n")))
        .groupBy("g")
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map(r => r.getString(0) -> ps.indices.map(i => r.getDouble(i + 1)))
        .toMap
      groups.foreach { case (k, vs) =>
        val sorted = vs.toVector.sorted
        ps.zipWithIndex.foreach { case (p, i) =>
          assert(math.abs(got(k)(i) - ref(sorted, p)) < 1e-9,
            s"group $k p=$p n=${vs.size}: got ${got(k)(i)}, " +
              s"ref ${ref(sorted, p)}")
        }
      }
    }
  }

  test("property: q_chunk's chunk-count arithmetic covers exactly, n=1..500") {
    // pure-Scala check of the index formula the operator and its oracle
    // both emit: chunk ids 0..K with K = 0 for n<=C else ceil((n-C)/S);
    // chunk i holds token indices [i*S, min(i*S+C, n))
    val (c, s) =
      (operators.TrainingData.ChunkSize, operators.TrainingData.ChunkStride)
    (1 to 500).foreach { n =>
      val k = if (n <= c) 0 else (n - c + s - 1) / s
      // tail coverage: the last chunk reaches the final token...
      assert(k * s + c >= n, s"n=$n")
      // ...and is non-empty (its start is a real token position)
      assert(k * s < n, s"n=$n")
      // minimality: one fewer chunk would leave the tail uncovered
      if (k > 0) assert((k - 1) * s + c < n, s"n=$n")
      // every token index is inside some chunk (stride < size → overlap)
      val covered = (0 to k).flatMap(i => i * s until math.min(i * s + c, n))
      assert(covered.toSet === (0 until n).toSet, s"n=$n")
    }
  }

  test("property: surprisal equals a full driver-side recompute") {
    // independent plain-Scala reimplementation: tokenize, unigram
    // counts, whole-bit surprisal = floor(log2(total DIV cnt)), per-doc
    // sums — n_toks and sum_bits must match the distributed result
    // EXACTLY (integer arithmetic end to end is the operator's claim)
    val out = graft.operators.TextOps.surprisal(
        Tables(spark, sf, "documents"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    assert(out.nonEmpty)
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val tfs = docs.map { case (id, t) =>
      (id, t.trim.split("\\s+").toSeq.groupBy(identity)
        .map { case (tok, occ) => tok -> occ.size.toLong })
    }
    val cnt = tfs.flatMap(_._2).groupBy(_._1)
      .map { case (tok, v) => tok -> v.map(_._2).sum }
    val total = cnt.values.sum
    def bits(c: Long): Long =
      63L - java.lang.Long.numberOfLeadingZeros(total / c)
    val ref = tfs.map { case (id, tf) =>
      (id, tf.values.sum,
        tf.map { case (tok, f) => f * bits(cnt(tok)) }.sum)
    }.sortBy(_._1).toSeq
    assert(out.map(t => (t._1, t._2, t._3)) === ref)
    out.foreach { case (_, n, s, avg) =>
      assert(math.abs(avg - s.toDouble / n) < 1e-6)
    }
  }

  test("property: surprisal sum_bits is additive over doc concatenation") {
    // merging two docs leaves the corpus unigram counts (and therefore
    // every token's bits) unchanged, so the merged doc scores the sum
    // of its parts and every untouched doc scores identically
    val sp = spark
    import sp.implicits._
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    val two = docs.filter(length(trim(col("text"))) > 0)
      .orderBy("doc_id").limit(2).collect()
    assume(two.length == 2, "fixture needs two non-empty docs")
    val (aId, aTxt) = (two(0).getLong(0), two(0).getString(1))
    val (bId, bTxt) = (two(1).getLong(0), two(1).getString(1))
    val merged = docs.filter(!col("doc_id").isin(aId, bId))
      .unionByName(Seq((aId, aTxt + " " + bTxt)).toDF("doc_id", "text"))
    def byId(df: org.apache.spark.sql.DataFrame) =
      graft.operators.TextOps.surprisal(df).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val base = byId(docs)
    val mrg = byId(merged)
    assert(mrg(aId)._1 === base(aId)._1 + base(bId)._1)
    assert(mrg(aId)._2 === base(aId)._2 + base(bId)._2)
    (base.keySet - aId - bId).foreach(id => assert(mrg(id) === base(id)))
  }
}
