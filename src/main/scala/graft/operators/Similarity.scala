package graft.operators

import graft.{Det, QDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (SURVEY.md §2.11 X3).
  *
  * Dot products / norms are higher-order-function folds over
  * `array<double>` — sequential left folds, bit-identical to DuckDB's
  * list_dot_product loop, and they stay inside whole-stage codegen
  * (no UDF). Similarities are floor-rounded (Det) before ranking so the
  * top-k cut is stable across engines.
  *
  * Scale: the brute-force query side is a broadcast of k query vectors —
  * fine for point lookups against any corpus size (scan stays
  * partition-parallel, one TakeOrdered per query). The label-blocked pair
  * search is the IVF-style path: pairs only form inside a block, so cost
  * is Σ|block|², not |corpus|². For open-ended 100 TB ANN, add
  * random-hyperplane LSH bucketing as the blocking key (same join shape).
  */
/** Parameterized random-hyperplane LSH with AND-OR banding: `nBands`
  * bands of `bits` sign-bits each; a candidate pair is any pair agreeing
  * on ALL bits of AT LEAST ONE band (AND within a band, OR across bands).
  * More bands → higher recall; more bits per band → stronger pruning.
  *
  * Planes are deterministic integer-weight vectors so the DuckDB oracle
  * and a recall test can reproduce them exactly:
  * w(p, i) = ((1 + 37p + 61i + 11pi) mod m) - m/2, where m is the
  * DERIVED modulus [[Ann.planeModulus]] (r15 — the rule earlier rounds
  * only documented): the smallest prime > max(planes, dim) with
  * (37 + 11i) % m != 0 for every i < dim. History of why each clause
  * exists: the original mod-13 family recombined bands at 16 planes
  * (period in p = modulus); its mod-29 successor fixed that but kept
  * TWO residual hazards — the i-period fold (at dim 768 all 16 planes
  * acted on 29-bucket folded sums, which a kernel-concentrated corpus
  * defeats entirely: WideRecallSpec's fold-defeating fixture) and the
  * p-coefficient roots (i = 23, 52 constant across all planes at dim
  * 64). The derived modulus eliminates all three by construction, per
  * stored dim, with the DuckDB twins deriving the identical value.
  */
/** THE rounded cosine — one Spark definition and one SQL-builder twin
  * for every similarity site in this file, so the zero-norm rule cannot
  * drift between the ANN legs, the IVF quantizer, and the embedding-QA
  * cuts: a zero-norm (or NULL) vector on either side scores the
  * sentinel -1.0, the cosine floor. Rationale: Spark's non-ANSI x/0.0
  * yields NULL (DESC-sorts last) while DuckDB's depends on version
  * (NULL on 1.0; NaN — which sorts FIRST in ORDER BY DESC — once
  * ieee_floating_point_ops defaults true in 1.1+), so inside a top-k
  * cut, a >threshold filter, or an argmax the engines could disagree.
  * The sentinel keeps degenerate vectors deterministically at the
  * BOTTOM of every descending ranking, OUT of every >threshold pair
  * filter, and at the TOP of q_embed_outliers' ascending garbage cut —
  * identically in both engines, on any DuckDB version.
  */
private[operators] object CosSim {
  import org.apache.spark.sql.Column

  /** Embedding width of the generated corpus (TESTDATA.md) — the dim
    * every QDef in this file is written against (their hyperplane
    * literals are EmbDim-length too). Library entry points that accept
    * other corpora (Ann.prep/candidates/topK) take dim explicitly and
    * forward it here; canon/canonSql deliberately have NO default so a
    * new call site must state whose width the padded zero vector gets —
    * a wrong-length pad breaks the documented NULL-bands-like-zero
    * invariant (graft_dot returns NULL on length mismatch → '0' bits).
    */
  val EmbDim = 64

  def sentinel(dot: Column, n1: Column, n2: Column): Column =
    when(n1 > lit(0d) && n2 > lit(0d), Det.rnd(dot / (n1 * n2), 6))
      .otherwise(lit(-1.0d))

  /** DuckDB twin: rounded `dotSql / (n1Sql * n2Sql)` behind the same
    * guard. Pass the norm EXPRESSIONS (not aliases) when the dialect
    * site cannot reference aliases in scope.
    */
  def sentinelSql(dotSql: String, n1Sql: String, n2Sql: String): String =
    s"CASE WHEN $n1Sql > 0 AND $n2Sql > 0 THEN " +
      Det.rndSql(s"$dotSql / ($n1Sql * $n2Sql)", 6) +
      " ELSE CAST(-1 AS DOUBLE) END"

  /** NULL-embedding canonicalization for every cosine/banding scan:
    * a NULL embedding IS the zero vector — same sentinel cosine, same
    * (all-'1') hyperplane sign bits, same candidate sets on both
    * engines. One definition per engine because the alternatives
    * diverge: Spark's when-guards would band a NULL dot to '0' bits
    * where a zero vector gives '1' bits, and DuckDB 1.0's
    * list_inner_product hard-errors on a mixed-validity list column
    * even under a CASE guard (verified empirically — single-row NULL
    * chunks return NULL, mixed chunks abort). Centroid MEANS are the
    * deliberate exception on both engines: a NULL embedding contributes
    * no coordinates there (Spark posexplode drops it; the SQL twin's
    * embedding[gs] yields NULLs that sum skips), because canonicalizing
    * would drag every per-label mean toward zero.
    */
  def canon(embedding: Column, dim: Int): Column =
    coalesce(embedding.cast("array<double>"),
      typedlit(Seq.fill(dim)(0.0)))

  /** [[canon]] + WIDTH ENFORCEMENT for ingest sites (review r13): the
    * `_cfg` pin checks the caller's PARAMETER, but canon passes
    * non-null vectors through at their own length — so a batch whose
    * DATA is a different width than declared would still store
    * mixed-width rows (cross-width dots go NULL, candidates silently
    * vanish). This variant raises inside the scan when a non-null
    * vector's length differs from dim — the check rides the existing
    * row pass, no extra job, and it cannot be pruned away because it
    * DEFINES the canon value. Probe-side reads keep the lenient
    * [[canon]] (stored rows were already checked on the way in).
    */
  def canonChecked(embedding: Column, dim: Int): Column = {
    val v = embedding.cast("array<double>")
    // NULL and EMPTY both canonicalize to the zero vector — they are
    // the degenerate "no embedding" shapes the sentinel path covers
    // (the streaming fixtures ship an empty array deliberately); only
    // a NON-EMPTY vector of the wrong length is a width lie
    when(v.isNull || size(v) === 0, typedlit(Seq.fill(dim)(0.0)))
      .otherwise(when(size(v) === dim, v).otherwise(raise_error(
        concat(lit(s"vector width mismatch: index dim=$dim, batch row has "),
          size(v).cast("string")))))
  }

  /** The identity list_transform is LOAD-BEARING: DuckDB 1.0's
    * list_inner_product validates the flat child vector of its list
    * argument across the whole chunk, so a COALESCE that papers over a
    * NULL list row still aborts ("left argument can not contain NULL
    * values") when the chunk mixes NULL and non-NULL lists; the
    * transform re-materializes a clean child vector (verified
    * empirically on a mixed 502-row fixture).
    */
  def canonSql(dim: Int): String =
    "list_transform(COALESCE(CAST(embedding AS DOUBLE[]), " +
      s"[CAST(0 AS DOUBLE) for i in generate_series(1, $dim)]), x -> x)"
}

object Ann {
  import org.apache.spark.sql.{Column, DataFrame}

  /** THE DERIVED PLANE MODULUS (r15, VERDICT item 3 — the scaling
    * rule WideRecallSpec pinned as documentation, now applied in
    * code): the smallest prime m exceeding max(planes, dim) whose
    * p-coefficient root avoids every coordinate — (37 + 11i) % m != 0
    * for all i < dim. Why each clause matters:
    *   - m > planes: w(p, i) is linear in p, so the family's period
    *     in p equals m — a modulus at or below the plane count makes
    *     the last bands silently RECOMBINE the first bands' bits (the
    *     original mod-13 family did exactly that);
    *   - m > dim: w(p, i) is periodic in i with period m, so a
    *     modulus below the width makes every plane act on the
    *     m-bucket FOLDED sums of the vector — a corpus whose neighbor
    *     structure lives in the fold's kernel defeats the banding
    *     entirely (WideRecallSpec's fold-defeating fixture proves the
    *     old fixed-29 family loses those pairs at dim 768);
    *   - (37 + 11i) % m != 0 for i < dim: at a root coordinate the
    *     p-coefficient vanishes and that coordinate's weight is the
    *     SAME constant across all planes — a shared component, not
    *     per-plane independence (the fixed-29 family carried this
    *     bias at i = 23 and 52).
    * Pure function of (planes, dim): every engine site and the DuckDB
    * oracle twins derive the identical value — nothing to configure,
    * nothing to drift.
    */
  def planeModulus(planes: Int, dim: Int): Int = {
    def isPrime(n: Int): Boolean =
      n > 1 && (2 to math.sqrt(n.toDouble).toInt).forall(n % _ != 0)
    Iterator.from(math.max(planes, dim) + 1)
      .filter(isPrime)
      .find(m => (0 until dim).forall(i => (37 + 11 * i) % m != 0))
      .get
  }

  /** Plane p's integer weights under `modulus`, computed ONCE on the
    * driver and shipped as a literal array — the equivalent
    * `transform(sequence(...), ...)` expression is a higher-order
    * function that would rebuild the plane per ROW per BIT
    * (interpreted), dominating the banding cost.
    */
  def planeVec(p: Int, dim: Int, modulus: Int): Seq[Double] =
    (0 until dim).map(i =>
      (((1 + p * 37 + i * 61 + p * i * 11) % modulus) - modulus / 2)
        .toDouble)

  private def bit(v: Column, p: Int, dim: Int, modulus: Int): Column =
    when(call_function("graft_dot", v,
      typedlit(planeVec(p, dim, modulus))) >= 0d, "1").otherwise("0")

  /** Band `band` (1-based) = concat of its `bits` sign bits. */
  def bandKey(v: Column, band: Int, bits: Int, dim: Int,
      modulus: Int): Column =
    concat((1 to bits).map(j =>
      bit(v, (band - 1) * bits + j, dim, modulus)): _*)

  /** All band keys as array<string> (index = band - 1). `modulus`
    * defaults to 0 = derive via [[planeModulus]] — the production
    * path; an explicit value exists for the WideRecallSpec leg that
    * demonstrates what a fixed modulus would have lost. */
  def bandKeys(v: Column, nBands: Int, bits: Int, dim: Int,
      modulus: Int = 0): Column = {
    val m = if (modulus > 0) modulus
      else planeModulus(nBands * bits, dim)
    array((1 to nBands).map(b => bandKey(v, b, bits, dim, m)): _*)
  }

  /** Normalized view of the embeddings table: (vec_id, v, nrm).
    * `dim` sizes the zero vector NULL embeddings canonicalize to — it
    * must match the corpus width or banding diverges (see CosSim.canon).
    */
  def prep(emb: DataFrame, dim: Int = CosSim.EmbDim): DataFrame =
    emb.select(col("vec_id"),
        CosSim.canon(col("embedding"), dim).as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))

  /** [[prep]] with [[CosSim.canonChecked]] width enforcement — the
    * variant every index WRITE/APPEND path uses, so a mixed-width
    * batch fails in the ingest scan instead of storing rows whose
    * cross-width dots NULL out at probe time (review r13). */
  def prepStrict(emb: DataFrame, dim: Int): DataFrame =
    emb.select(col("vec_id"),
        CosSim.canonChecked(col("embedding"), dim).as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))

  /** The ONE external-query prep every scoreExternal shares (review
    * r13 #2: five copies invited drift): (q_id, embedding) →
    * (q_id, qv, qn) at the index's width, with the SAME
    * [[CosSim.canonChecked]] enforcement ingest has — external
    * queries are user input that never passed an ingest scan, and a
    * wrong-width query would otherwise NULL every dot/Hamming and
    * return k well-formed rows of garbage with no error. */
  def prepExternal(queries: DataFrame, dim: Int): DataFrame =
    queries
      .select(col("q_id"),
        CosSim.canonChecked(col("embedding"), dim).as("qv"))
      .withColumn("qn", expr("sqrt(graft_dot(qv, qv))"))

  /** Distinct candidate pairs (q_id, vec_id) colliding on ≥1 band.
    * Ids only — vectors are fetched back after the candidate cut, so the
    * heavy arrays never travel through the band join. The (tiny) query
    * side is broadcast; the corpus side streams partition-parallel.
    */
  def candidates(e: DataFrame, isQuery: Column => Column, nBands: Int,
      bits: Int, dim: Int = CosSim.EmbDim): DataFrame = {
    val banded = e.withColumn("bands",
      bandKeys(col("v"), nBands, bits, dim))
    val c = banded.select(col("vec_id"), posexplode(col("bands")))
      .toDF("vec_id", "band_idx", "band_key")
    val q = banded.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"), posexplode(col("bands")))
      .toDF("q_id", "q_band_idx", "q_band_key")
    c.join(broadcast(q), col("band_idx") === col("q_band_idx") &&
        col("band_key") === col("q_band_key") &&
        col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
  }

  /** Banded ANN top-k: exact cosine rescoring of the candidate set only. */
  def topK(emb: DataFrame, isQuery: Column => Column, k: Int, nBands: Int,
      bits: Int, dim: Int = CosSim.EmbDim): DataFrame = {
    // prep feeds band generation plus both rescoring joins and is
    // deliberately NOT persisted: recomputing the scan + norms is cheaper
    // than columnar cache encoding at this width (measured at sf0.1)
    val e = prep(emb, dim)
    val cand = candidates(e, isQuery, nBands, bits, dim)
    val q = e.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val sim = CosSim.sentinel(expr("graft_dot(v, qv)"),
      col("nrm"), col("qn"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    cand.join(e, "vec_id").join(broadcast(q), "q_id")
      .withColumn("sim", sim)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("q_id", "vec_id", "sim")
  }
}

/** IVF coarse quantizer via deterministic Lloyd's k-means (VERDICT r02 #2/#3).
  *
  * The quantizer TABLE is tiny (k centroids × dim doubles) and lives on
  * the DRIVER at any realistic k — the classic distributed k-means shape
  * (MLlib KMeans does the same): data never shuffles for assignment, and
  * each Lloyd update is one map-side-combined aggregation collecting
  * k×dim sums. The per-row nearest-centroid ARGMAX has two regimes
  * (VERDICT r08 #2), dispatched by [[assignCells]]:
  *   - k ≤ [[LiteralArgmaxMaxK]]: codegen'd literal-centroid expression
  *     ([[assign]]) — k dot products per row inside whole-stage codegen,
  *     no join, no row inflation. The EXPRESSION is linear-size in
  *     k×dim, so this regime does not extend to k→√n: a codegen method
  *     embedding thousands of literal doubles blows past JIT/codegen
  *     limits long before the driver table itself is a problem.
  *   - k > [[LiteralArgmaxMaxK]]: the same driver table ships as a
  *     BROADCAST join ([[assignByJoin]], the q_embed_assign shape) —
  *     corpus × broadcast(centroids), per-row rounded cosine, one
  *     vec_id shuffle for the WindowGroupLimit-capped row_number
  *     argmax. This is the k→√n scale path: broadcast size k×dim
  *     doubles, corpus never self-joins.
  * Both regimes compute the identical rounded cosine with the identical
  * smallest-cell-on-ties rule — including the zero-norm/NULL sentinel
  * cosine -1.0, which lands degenerate vectors in the smallest cell in
  * BOTH regimes — so the dispatch is invisible to results (gated in
  * IvfAssignSpec at k=40, degenerate rows included). No |corpus|×|centroids| row
  * inflation outside the broadcast-bounded join (r02's crossJoin +
  * row_number argmin over a SHUFFLED centroid side is gone), no
  * posexplode (centroid means are dim parallel long-sums over `v[i]`).
  *
  * Determinism across engines (so the DuckDB oracle can mirror it):
  * fixed seed init (the k lowest vec_ids, cell id = seed vec_id), a fixed
  * number of Lloyd updates, integer-scaled means (floor(x*1e6+0.5) summed
  * as longs — exact in any order), and rounded cosine with
  * csim-desc/cell-asc tiebreak on every assignment.
  */
object Ivf {
  import org.apache.spark.sql.{Column, DataFrame}

  private val scale = 1000000.0

  /** Left-to-right norm, same accumulation order as graft_dot and
    * DuckDB's list_dot_product loop. */
  def norm(c: Seq[Double]): Double =
    math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x))

  /** Rounded cosine of row vector `v` (with precomputed `nrm`) against a
    * driver-literal centroid. Zero-norm/NULL vectors (and zero-norm
    * centroids) get the sentinel -1.0 — without it the literal path's
    * all-NULL cosine array argmaxes to a NULL cell while the join path's
    * NULLS-LAST tie takes the smallest cell, and the regime dispatch
    * would no longer be invisible to results. With the sentinel both
    * regimes tie every cell at -1.0 and resolve to the smallest cell id
    * (cents is sorted; array_position takes the first max). */
  private def csim(c: Seq[Double]): Column =
    CosSim.sentinel(call_function("graft_dot", col("v"), typedlit(c)),
      col("nrm"), lit(norm(c)))

  /** Single-pass nearest-centroid argmax: the k rounded cosines land in
    * one array and the cell is read at the first-max position —
    * linear-size expression, k dot products per row, no join, no row
    * inflation. (A when/otherwise fold would reference its accumulator
    * twice per step → 2^k expression-tree blowup; measured 8s vs <2s at
    * k=8.) array_position takes the FIRST occurrence of the max, i.e.
    * the smallest cell id on ties — matching the oracle's
    * ORDER BY csim DESC, cell ASC. */
  def assign(cents: Seq[(Int, Seq[Double])]): Column = {
    val sims = array(cents.map { case (_, c) => csim(c) }: _*)
    val cellIds = typedlit(cents.map(_._1))
    element_at(cellIds, array_position(sims, array_max(sims)).cast("int"))
  }

  /** Crossover between the literal-expression argmax and the broadcast
    * join: at 32 centroids × 64 dims the literal expression embeds ~2k
    * doubles — comfortably inside codegen limits — while the join's
    * extra exchange (one vec_id shuffle) still costs more than the
    * expression saves. Above that, expression size grows linearly
    * toward JIT limits while the join shape is flat in k.
    */
  val LiteralArgmaxMaxK = 32

  /** Broadcast-join nearest-centroid argmax — identical semantics to
    * [[assign]] (same rounded cosine, same smallest-cell-on-ties), as a
    * plan shape that is flat in k: corpus × broadcast(cell, cv, cnrm),
    * per-row cosine, row_number argmax capped by WindowGroupLimit after
    * ONE vec_id shuffle. The centroid norms are computed on the driver
    * with the same left-to-right fold as the literal path, so the
    * broadcast table carries bit-identical doubles.
    */
  def assignByJoin(e: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val cent = broadcast(
      cents.map { case (id, c) => (id, c, norm(c)) }.toDF("cell", "cv", "cnrm"))
    // same zero-norm sentinel as the literal path's csim — the regime
    // dispatch must stay invisible to results on degenerate vectors too
    val sim = CosSim.sentinel(
      call_function("graft_dot", col("v"), col("cv")),
      col("nrm"), col("cnrm"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("_csim").desc, col("cell").asc)
    e.crossJoin(cent)
      .withColumn("_csim", sim)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(e.columns.map(col) :+ col("cell"): _*)
  }

  /** e must have (vec_id, v, nrm). Returns e + `cell` via the regime
    * right for this k (see object doc). */
  def assignCells(e: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame =
    if (cents.length <= LiteralArgmaxMaxK) e.withColumn("cell", assign(cents))
    else assignByJoin(e, cents)

  /** One Lloyd update: element-wise integer-scaled means per cell. One
    * distributed aggregation (dim long-sums + a count per cell,
    * map-side combined); only k×dim values reach the driver. */
  def meanCentroids(assigned: DataFrame, dim: Int): Seq[(Int, Seq[Double])] = {
    val sums = (0 until dim).map(i =>
      sum(floor(col("v")(i) * lit(scale) + lit(0.5)).cast("long")).as(s"s$i"))
    assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sums: _*)
      .collect()
      .map { r =>
        val n = r.getAs[Long]("n")
        (r.getAs[Int]("cell"),
          (0 until dim).map(i => r.getAs[Long](s"s$i") / (scale * n)))
      }
      .sortBy(_._1).toSeq
  }

  /** The trained quantizer alone: seed init + iters-1 Lloyd mean
    * updates, WITHOUT the final assignment pass — the piece
    * [[IvfIndex]] persists so later probes (and external-query cell
    * routing) never re-train. [[kmeansCells]] composes it with
    * [[assignCells]], so the stored and inline paths share one
    * training definition.
    */
  def kmeansCentroids(e: DataFrame, k: Int, dim: Int,
      iters: Int): Seq[(Int, Seq[Double])] = {
    // seed centroids: the k lowest vec_ids, cell id = seed vec_id
    var cents: Seq[(Int, Seq[Double])] =
      e.filter(col("vec_id") < k).select(col("vec_id"), col("v")).collect()
        .map(r => (r.getAs[Number]("vec_id").intValue,
          r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
    // `vec_id < k` only selects k seeds when ids are dense from 0 — the
    // testdata contract. Anything sparser must fail HERE: with too few
    // (or zero) centroids, assign() would quietly produce NULL cells and
    // meanCentroids would unbox them to a bogus cell 0
    require(cents.length == k,
      s"kmeansCentroids: expected $k seed vectors with vec_id in [0, $k), " +
        s"found ${cents.length} — ids must be dense from 0")
    for (_ <- 1 until iters)
      cents = meanCentroids(assignCells(e, cents), dim)
    cents
  }

  /** e must have (vec_id, v, nrm). Returns e + `cell` after `iters`
    * assignment passes (iters-1 Lloyd mean updates in between). */
  def kmeansCells(e: DataFrame, k: Int, dim: Int, iters: Int): DataFrame =
    assignCells(e, kmeansCentroids(e, k, dim, iters))

  // BOTH cosines — assignment AND cell-probe rescoring — mirror the
  // Spark sites' zero-norm sentinel (CosSim) so the twins agree even
  // on degenerate vectors, on any DuckDB version
  private def csimSql(vAlias: String, cAlias: String) =
    CosSim.sentinelSql(s"list_dot_product($vAlias.v, $cAlias.c)",
      s"sqrt(list_dot_product($vAlias.v, $vAlias.v))",
      s"sqrt(list_dot_product($cAlias.c, $cAlias.c))")

  /** The e/c0/a1/c1/cells CTE bodies (no WITH) mirroring
    * kmeansCells(k, 64, iters=2): c0 = seed vectors, a1 = argmax vs c0,
    * c1 = integer-scaled means, cells = argmax vs c1. Shared by the
    * single- and multi-probe oracles.
    */
  private[operators] def quantizerCtes(k: Int): String =
    s"e AS (SELECT vec_id, ${CosSim.canonSql(CosSim.EmbDim)} AS v " +
      "FROM embeddings), " +
      s"c0 AS (SELECT CAST(vec_id AS INT) AS cell, v AS c FROM e " +
      s"WHERE vec_id < $k), " +
      "a1 AS (SELECT vec_id, v, cell FROM (" +
      "SELECT e.vec_id, e.v, c0.cell, row_number() OVER (" +
      s"PARTITION BY e.vec_id ORDER BY ${csimSql("e", "c0")} DESC, c0.cell) " +
      "AS rn FROM e, c0) WHERE rn = 1), " +
      "c1 AS (SELECT cell, list(cx ORDER BY i) AS c FROM (" +
      "SELECT cell, i, CAST(sum(CAST(floor(v[i] * 1000000 + 0.5) " +
      "AS BIGINT)) AS DOUBLE) / (1000000.0 * count(*)) AS cx " +
      "FROM a1, generate_series(1, 64) t(i) GROUP BY cell, i) " +
      "GROUP BY cell), " +
      "cells AS (SELECT vec_id, v, cell FROM (" +
      "SELECT e.vec_id, e.v, c1.cell, row_number() OVER (" +
      s"PARTITION BY e.vec_id ORDER BY ${csimSql("e", "c1")} DESC, c1.cell) " +
      "AS rn FROM e, c1) WHERE rn = 1)"

  private def rescoreSql = CosSim.sentinelSql(
    "list_dot_product(c2.v, q.v)",
    "sqrt(list_dot_product(c2.v, c2.v))",
    "sqrt(list_dot_product(q.v, q.v))")

  /** DuckDB mirror of kmeansCells + single-cell probe top-k for
    * queries vec_id < maxQueryId: rescoring inside the query's own
    * cell only. */
  def oracleSql(k: Int, maxQueryId: Int, topK: Int): String =
    s"WITH ${quantizerCtes(k)}, " +
      "p AS (SELECT q.vec_id AS q_id, c2.vec_id AS vec_id, c2.cell, " +
      s"$rescoreSql AS sim FROM cells c2 JOIN cells q ON c2.cell = q.cell " +
      s"AND q.vec_id < $maxQueryId AND c2.vec_id <> q.vec_id) " +
      "SELECT q_id, vec_id, cell, sim FROM (SELECT *, row_number() " +
      "OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn " +
      s"FROM p) WHERE rn <= $topK"

  /** MULTI-PROBE mirror: each query ranks ALL centroids by the rounded
    * sentinel cosine and rescans its `nprobe` nearest cells — the
    * standard IVF recall lever (a query near a cell boundary finds
    * neighbors quantized into the adjacent cell). Cell ranking uses the
    * IDENTICAL cosine + (csim desc, cell asc) tiebreak as assignment,
    * so probe 1 is always the query's own cell and nprobe=1 degenerates
    * to [[oracleSql]].
    */
  def oracleSqlMultiProbe(k: Int, maxQueryId: Int, topK: Int,
      nprobe: Int): String =
    s"WITH ${quantizerCtes(k)}, " +
      "pc AS (SELECT q_id, cell FROM (" +
      "SELECT q.vec_id AS q_id, c1.cell, row_number() OVER (" +
      s"PARTITION BY q.vec_id ORDER BY ${csimSql("q", "c1")} DESC, " +
      "c1.cell) AS crn FROM cells q, c1 " +
      s"WHERE q.vec_id < $maxQueryId) WHERE crn <= $nprobe), " +
      "p AS (SELECT pc.q_id, c2.vec_id, c2.cell, " +
      s"$rescoreSql AS sim FROM cells c2 JOIN pc ON c2.cell = pc.cell " +
      "JOIN cells q ON q.vec_id = pc.q_id AND c2.vec_id <> pc.q_id) " +
      "SELECT q_id, vec_id, cell, sim FROM (SELECT *, row_number() " +
      "OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn " +
      s"FROM p) WHERE rn <= $topK"
}

/** STORED embedding ANN band index (VERDICT r11 #1) — the maintain-once/
  * probe-many form of [[Ann]], exactly the economics [[graft.operators.
  * TextOps.writeBm25Index]] gave lexical retrieval: band signatures are
  * hashed ONCE at write/ingest time into a bucketed postings table, and
  * every subsequent retrieval run probes stored buckets instead of
  * re-hashing the corpus (q_simsearch_banded's pre-r12 sf1 ratio was
  * 7.2× — linear in corpus size for a fixed query set — because
  * Ann.topK banded `Tables(embeddings)` inline per run).
  *
  * Two tables per index:
  *   - `<table>`: (band_key, vec_id) id-only band postings, bucketed +
  *     sorted on band_key. band_key is SLOT-PREFIXED ("<band_idx>:" ++
  *     sign bits — TextOps.bandIndexRows' rule): a positionless key
  *     would admit cross-band collisions, a strictly broader candidate
  *     set than Ann.candidates' per-band-position equi-join.
  *   - `<table>_vec`: (vec_id, v, nrm) payload, bucketed + sorted on
  *     vec_id — candidate rescoring and query-vector fetch read this,
  *     so the heavy arrays are stored ONCE (not once per band) and
  *     never travel through the band join.
  * Probes read the QUERY side's band keys from the stored postings
  * themselves (filter on vec_id — parquet row-group pruning), so a
  * probe needs NO banding configuration at all; only [[write]] and the
  * streaming external-query path take (nBands, bits, dim), which must
  * match the build (StreamingOps.streamingAnn documents the contract).
  *
  * At 100 TB both tables live in a real catalog and are maintained at
  * ingest (band rows are doc-local — append-only maintenance needs no
  * rewrite, the writeBandIndex/appendBm25Postings precedent); here the
  * memoized build is per process + catalog with the `_ok`-marker crash
  * guard, dead-pid sweep, and orphan-location cleanup shared with the
  * BM25 family.
  */
object AnnIndex {
  import org.apache.spark.sql.{Column, DataFrame, SparkSession}
  import graft.operators.{TextOps => TO}

  /** The memoized corpus index's banding config — q_simsearch_banded's
    * 8 bands × 2 bits over the 64-wide testdata embeddings. `Dim` is
    * the public face of CosSim.EmbDim for callers outside the
    * operators package (the streaming ingest defaults ride it so a
    * corpus-width change cannot silently fork stream from batch). */
  val NBands = 8
  val Bits = 2
  val Dim: Int = CosSim.EmbDim

  /** Slot-prefixed exploded band postings for any (vec_id, v) frame. */
  def bandRows(e: DataFrame, nBands: Int, bits: Int, dim: Int): DataFrame =
    e.withColumn("bands", Ann.bandKeys(col("v"), nBands, bits, dim))
      .select(col("vec_id"), posexplode(col("bands")))
      .toDF("vec_id", "band_idx", "bits")
      .select(concat(col("band_idx").cast("string"), lit(":"),
        col("bits")).as("band_key"), col("vec_id"))

  /** Normalized (vec_id, v, <payload...>, nrm) — [[Ann.prep]] plus
    * caller-chosen passthrough METADATA columns stored in the payload
    * table, the piece filtered vector search probes against (label,
    * language, source, timestamp — whatever the corpus carries).
    */
  private def prepPayload(emb: DataFrame, dim: Int,
      payloadCols: Seq[String]): DataFrame =
    // ingest-side width enforcement (CosSim.canonChecked): a batch of
    // the wrong width must fail in this scan, not store mixed rows
    emb.select(col("vec_id") +:
        CosSim.canonChecked(col("embedding"), dim).as("v") +:
        payloadCols.map(col): _*)
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))

  /** Materialize `emb`'s band postings + vector payload as bucketed
    * tables (see object doc). `payloadCols` ride in the payload table
    * for metadata-filtered probes ([[topKFiltered]]). Caller-supplied
    * names must be per-process unique in a shared warehouse —
    * TextOps.clearOrphanLocation's contract.
    */
  def write(emb: DataFrame, table: String, nBands: Int = NBands,
      bits: Int = Bits, dim: Int = CosSim.EmbDim, nBuckets: Int = 8,
      payloadCols: Seq[String] = Nil): Unit =
      TO.withBuildLock(emb.sparkSession) {
    val s = emb.sparkSession
    TO.clearOrphanLocation(s, table)
    TO.clearOrphanLocation(s, table + "_vec")
    // rebuild-over-upserted-family: rebuilt rows ride at the top
    // surviving finite barrier, not gen 0 — otherwise every
    // previously-upserted id's rebuilt rows would sit below its
    // surviving barrier and exceptTombstones would silently drop them
    // (TextOps.rebuildGen — ADVICE r14; terminal deletes still kill)
    val gTop = TO.rebuildGen(s, table + "_del")
    // a full rebuild may change the banding config — RETIRE the pin
    // before touching data, and re-pin only after BOTH data tables
    // land (ADVICE r13): pinning first left a direct-call crash window
    // where a new-parameter cfg sat over old-parameter stored bands,
    // and scoreExternal (which trusts the stored cfg) would band
    // external queries with the wrong config and silently return
    // garbage candidates. With the pin written LAST, every crash
    // state is cfg-absent-or-matching: probes fall back to the
    // caller's explicit parameters, never a config describing data
    // that was not written. (The memoized path additionally commits
    // via the `_ok` marker; this ordering protects direct callers.)
    s.sql(s"DROP TABLE IF EXISTS ${table}_cfg")
    // the prep scan feeds both writes; persisting the narrow normalized
    // form beats re-reading + re-folding norms for the band pass
    // legal holds gate the ingest door (r15)
    val e = prepPayload(TO.exceptHeld(emb, s, table + "_hold",
      "vec_id"), dim, payloadCols).persist()
    try {
      bandRows(e, nBands, bits, dim).withColumn("gen", lit(gTop))
        .write.mode("overwrite")
        .bucketBy(nBuckets, "band_key").sortBy("band_key")
        .saveAsTable(table)
      e.withColumn("gen", lit(gTop)).write.mode("overwrite")
        .bucketBy(nBuckets, "vec_id").sortBy("vec_id")
        .saveAsTable(table + "_vec")
    } finally { e.unpersist(); () }
    TO.ensureIndexConfig(s, table,
      Seq("dim" -> dim, "nbands" -> nBands, "bits" -> bits,
        "planemod" -> Ann.planeModulus(nBands * bits, dim)))
  }

  /** Banded ANN top-k served ENTIRELY from the stored index: query band
    * keys and query vectors are fetched by vec_id filter (pruned scans,
    * no shuffle), candidates come from one band_key equi-join against
    * the bucketed postings (broadcast query side — corpus side is a
    * bucketed scan with zero Exchange, AnnIndexSpec-gated under forced
    * SMJ), rescoring joins the payload table on vec_id with the (tiny)
    * candidate set broadcast. Identical semantics to [[Ann.topK]] —
    * same candidate set, same sentinel cosine, same tiebreaks. With
    * `matchCols` nonempty it is the METADATA-FILTERED probe (see
    * [[topKFiltered]]) — ONE candidate/rescore/cut pipeline for both
    * forms (review r12: the filtered variant was a wholesale copy that
    * could drift), the filter reducing to `lit(true)` (pruned by
    * Catalyst) when unfiltered.
    */
  def topK(s: SparkSession, table: String, isQuery: Column => Column,
      k: Int, matchCols: Seq[String] = Nil): DataFrame = {
    // ONE tombstone list serves the whole family — both the band
    // postings and the payload twin subtract it (no-op without
    // deletes; see TextOps.tombstone for the lifecycle)
    val bands = TO.exceptTombstones(s.table(table), s,
      table + "_del", "vec_id")
    val vecs = TO.exceptTombstones(s.table(table + "_vec"), s,
      table + "_del", "vec_id")
    val qb = bands.filter(isQuery(col("vec_id")))
      .select(col("band_key").as("q_band_key"), col("vec_id").as("q_id"))
    val cand = bands.join(broadcast(qb),
        col("band_key") === col("q_band_key") &&
          col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
    val q = vecs.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("q_id") +: col("v").as("qv") +:
        col("nrm").as("qn") +:
        matchCols.map(c => col(c).as(s"q_$c")): _*)
    val sim = CosSim.sentinel(expr("graft_dot(v, qv)"),
      col("nrm"), col("qn"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    // null-safe payload equality BEFORE the top-k cut — the k results
    // are the best k WITHIN the filter, not a post-filtered subset of
    // the global top-k (the classic filtered-ANN correctness trap)
    val matched = matchCols
      .map(c => col(c) <=> col(s"q_$c"))
      .foldLeft(lit(true))(_ && _)
    // NO broadcast hint on the candidate side (unlike the tiny literal
    // query side): candidate volume is DATA-dependent — band collisions
    // over a skewed corpus can be arbitrarily large — and a hint would
    // force-broadcast it at any size. AQE sees the actual size after
    // the distinct's exchange and converts to broadcast when small
    // (measured: same warm cost as the hinted form at sf0.1), while the
    // at-scale fallback is a sort-merge against the vec-id-bucketed
    // payload — still zero Exchange on the stored side.
    cand.join(vecs, "vec_id").join(broadcast(q), "q_id")
      .filter(matched)
      .withColumn("sim", sim)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("q_id", "vec_id", "sim")
  }

  /** APPEND-ONLY maintenance for the stored ANN index — the
    * appendBandIndex treatment for vectors: band postings AND payload
    * rows are DOC-LOCAL (a vector's band keys depend only on its own
    * coordinates and the fixed plane family, never on corpus
    * statistics), so a new ingest batch appends its exploded band rows
    * and payload rows to the two bucketed tables with nothing
    * rewritten — per-batch cost O(batch). An index grown by appends is
    * row-identical to a from-scratch [[write]] over the union (gated
    * in AnnIndexSpec) and probes identically. The (nBands, bits, dim)
    * config is PINNED in `<table>_cfg` (first maintenance call
    * creates it, every later one must match — r13, so a mismatched
    * ingest fails loudly instead of silently forking the banding);
    * `payloadCols` must likewise match the original build.
    */
  def append(emb: DataFrame, table: String, nBands: Int = NBands,
      bits: Int = Bits, dim: Int = CosSim.EmbDim,
      nBuckets: Int = 8, payloadCols: Seq[String] = Nil,
      gen: Long = 0L): Unit =
    // under the shared build lock (review r13): a maintenance swap
    // (compact/vacuum/refresh) snapshots the file listing before its
    // rewrite — an append landing files between that snapshot and the
    // swap would be silently discarded with the old table. The lock is
    // reentrant, so memoized builds that append under it still work;
    // table names are per-process-unique, so in-process serialization
    // IS the full writer set.
    TO.withBuildLock(emb.sparkSession) {
    val s = emb.sparkSession
    TO.ensureIndexConfig(s, table,
      Seq("dim" -> dim, "nbands" -> nBands, "bits" -> bits,
        "planemod" -> Ann.planeModulus(nBands * bits, dim)))
    TO.clearOrphanLocation(s, table)
    TO.clearOrphanLocation(s, table + "_vec")
    // legal holds gate the ingest door (r15)
    val e = prepPayload(TO.exceptHeld(emb, s, table + "_hold",
      "vec_id"), dim, payloadCols).persist()
    try {
      bandRows(e, nBands, bits, dim).withColumn("gen", lit(gen))
        .write.mode("append")
        .bucketBy(nBuckets, "band_key").sortBy("band_key")
        .saveAsTable(table)
      e.withColumn("gen", lit(gen)).write.mode("append")
        .bucketBy(nBuckets, "vec_id").sortBy("vec_id")
        .saveAsTable(table + "_vec")
    } finally { e.unpersist(); () }
  }

  /** UPSERT vectors — the [[graft.operators.TextOps.upsertBm25Docs]]
    * contract for the ANN family (no corpus stats, so the op is
    * barrier + append over BOTH members): the incoming ids' old band
    * postings and payload rows die under a fresh finite barrier, the
    * batch's new rows ride above it at gen = barrier, pure inserts
    * just append. One build-lock scope, O(batch), nothing rewritten;
    * a terminally deleted id stays deleted. Config must match the
    * stored `_cfg` pin (enforced by append).
    */
  def upsert(emb: DataFrame, table: String, nBands: Int = NBands,
      bits: Int = Bits, dim: Int = CosSim.EmbDim,
      nBuckets: Int = 8, payloadCols: Seq[String] = Nil): Unit =
    TO.withBuildLock(emb.sparkSession) {
      val s = emb.sparkSession
      val g = TO.nextGen(s, table + "_del")
      TO.tombstone(s, table + "_del", emb.select(col("vec_id")),
        "vec_id", gen = g)
      append(emb, table, nBands, bits, dim, nBuckets, payloadCols,
        gen = g)
    }

  /** The ANN family's lifecycle ([[IndexFamily]]): band postings and
    * the `_vec` payload member under ONE tombstone list, the `_cfg`
    * pin (dim/nbands/bits/planemod) as sidecar. Repair rebuilds the
    * bands member from the payload for band-cardinality and
    * plane-modulus violations alike ([[rebuildBandsFromPayload]]); a
    * lost pin, wrong-width payload vectors or a lost payload member
    * have no safe heal (the bands carry no vectors to rebuild from). */
  def family(table: String): IndexFamily = new IndexFamily(table,
    members = Seq(table, table + "_vec"),
    idCol = "vec_id", callerIdCol = "vec_id",
    sidecar = Some("config pin" -> (table + "_cfg")),
    cfgOf = TO.readIndexConfig(_, table).getOrElse(Map.empty),
    invariant = audit(_, table, _),
    // band-cardinality violations AND a missing/forked plane modulus
    // (ADVICE r15 #2) share ONE heal — the payload member carries the
    // exact vectors, so rebuilding under the derived modulus +
    // re-pinning converges both classes. ONE entry matching either
    // message (ADVICE r16 #4): two entries with the same runner ran
    // the full O(index) bands rewrite twice back-to-back when a family
    // carried both violations in the same round.
    heals = Seq(IndexFamily.Heal(
      v => v.contains("band rows") || v.contains("planemod"),
      "rebuilt band postings from the payload member under the " +
        "derived plane modulus",
      rebuildBandsFromPayload(_, table))))

  /** The ANN family invariant over the live rows:
    *   - the planemod pin matches the derived modulus;
    *   - every live vector carries exactly nbands band rows (a partial
    *     append would silently shrink its candidate recall);
    *   - every live payload vector has exactly the `_cfg` dim.
    */
  private def audit(s: SparkSession, table: String,
      live: String => DataFrame): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    val cfg = TO.readIndexConfig(s, table).get
    // planemod pin audit (ADVICE r15 #2): a pin that is missing or
    // differs from the derived value means the stored bands and the
    // derived family may have forked. Both heal by rebuilding the
    // bands member under the derived modulus + re-pinning.
    val wantPm = Ann.planeModulus(cfg("nbands") * cfg("bits"), cfg("dim"))
    if (!cfg.get("planemod").contains(wantPm))
      out += s"planemod pin ${cfg.get("planemod").getOrElse("missing")}" +
        s" != derived $wantPm"
    val bands = live(table)
    out ++= bands.groupBy("vec_id").count()
      .filter(col("count") =!= cfg("nbands")).limit(5).collect()
      .map(r => s"vec_id ${r.getLong(0)} has ${r.getLong(1)} " +
        s"band rows (expected ${cfg("nbands")})")
    if (s.catalog.tableExists(table + "_vec")) {
      val vecs = live(table + "_vec")
      val bad = vecs.filter(size(col("v")) =!= cfg("dim")).count()
      if (bad > 0) out += s"$bad payload vectors are not dim ${cfg("dim")}"
      // TOTAL-loss band audit (ADVICE r14): the per-id count above
      // groups over the bands table, so a live payload vector with
      // ZERO band rows — every posting lost, the worst case of the
      // partial-append invariant — is invisible to it. Anti-join the
      // live payloads against the live band ids; NULL-embedding
      // vectors legitimately store a payload row and no bands.
      out ++= vecs.filter(col("v").isNotNull).select("vec_id")
        .join(bands.select("vec_id").distinct(), Seq("vec_id"),
          "left_anti")
        .limit(5).collect()
        .map(r => s"vec_id ${r.getLong(0)} has 0 band rows " +
          s"(expected ${cfg("nbands")})")
    } else out += s"payload member ${table}_vec missing"
    out.toList
  }

  /** The band-cardinality AND plane-modulus heal: re-derive the
    * ENTIRE bands member from the live payload rows under the `_cfg`
    * pin's (nbands, bits, dim) — always banded under the DERIVED
    * modulus, which is what heals a missing or forked pin — each id's
    * postings stamped at its own live generation, then re-pin
    * `planemod` to the derived value. Physically drops any dead rows
    * the member still held (they were probe-invisible already — the
    * vacuum argument). Rebuild FIRST, re-pin LAST: a crash between
    * the two leaves a stale pin over derived bands, which fsck still
    * flags (pin != derived) and a re-run converges — the reverse
    * order would leave a pin that PASSES fsck over bands it does not
    * describe. */
  private def rebuildBandsFromPayload(s: SparkSession,
      table: String): Unit = {
    val cfg = TO.readIndexConfig(s, table).getOrElse(
      throw new IllegalStateException(
        s"rebuildBandsFromPayload: no config pin ${table}_cfg"))
    // a REPAIR rewrite runs under FoldGuard.Orphan: the family is
    // corrupt, so any manifest snapshot pinning its current files
    // pins the corrupt state — healing the live family wins, and
    // checkSnapshot names whatever the rewrite orphaned
    TO.rewriteBucketed(s, table, guard = TO.FoldGuard.Orphan,
        transform = df => {
      val s2 = df.sparkSession
      val live = TO.exceptTombstones(s2.table(table + "_vec"), s2,
        table + "_del", "vec_id")
      val gen =
        if (live.columns.contains("gen")) live.select(col("vec_id"),
          col("gen"))
        else live.select(col("vec_id")).withColumn("gen", lit(0L))
      bandRows(live.select(col("vec_id"), col("v")),
          cfg("nbands"), cfg("bits"), cfg("dim"))
        .join(gen, "vec_id")
        .select(col("band_key"), col("vec_id"), col("gen"))
    })
    val wantPm = Ann.planeModulus(cfg("nbands") * cfg("bits"),
      cfg("dim"))
    if (!cfg.get("planemod").contains(wantPm))
      TO.overwriteIndexConfig(s, table,
        Seq("dim" -> cfg("dim"), "nbands" -> cfg("nbands"),
          "bits" -> cfg("bits"), "planemod" -> wantPm))
  }

  /** METADATA-FILTERED banded ANN top-k — production "filtered vector
    * search": candidates must agree with the query on every column of
    * `matchCols` (stored in the payload table at build time), compared
    * null-safely, BEFORE the top-k cut — so the k results are the best
    * k WITHIN the filter, not a post-filtered subset of the global
    * top-k (the classic filtered-ANN correctness trap: post-filtering
    * returns < k or worse neighbors). Shape is [[topK]] plus the
    * payload-column equality in the rescoring join — the filter rides
    * the SAME joined row, costing nothing extra; at high filter
    * selectivity a production system would add the filter key to the
    * band key itself (partitioned indexes), which this layout admits
    * by prefixing band_key at build time.
    */
  def topKFiltered(s: SparkSession, table: String,
      isQuery: Column => Column, k: Int,
      matchCols: Seq[String]): DataFrame =
    topK(s, table, isQuery, k, matchCols)

  /** Scored band-collision candidates of EXTERNAL query vectors
    * against the stored index — the serving-path shape shared by batch
    * and streaming (StreamingOps.streamingAnn is this function over a
    * file stream; exact parity gated in AnnIndexSpec, the
    * streamingBm25 pattern: ONE definition, so stream and batch cannot
    * drift). `queries` is (q_id, embedding) in its own id namespace;
    * arriving vectors are canonicalized + banded STATELESSLY with the
    * (nBands, bits, dim) the index was BUILT with — the one config
    * contract a caller must honor — then:
    * band_key equi-join against the stored postings (bucketed corpus
    * side), (q_id, vec_id) dedup of multi-band collisions, payload
    * join on vec_id, exact sentinel-cosine rescoring. Emits ALL scored
    * candidates (q_id, vec_id, sim) — the top-k cut belongs to the
    * consumer, exactly like streamingBm25. No self-exclusion: external
    * queries are not corpus members. The query vector rides through
    * the dedup (needed for rescoring); at scale bound the streaming
    * dedup state with a watermark on an ingest-time column.
    *
    * Banding config: the STORED `<table>_cfg` row wins when present
    * (r13 — the serving path no longer trusts the caller to repeat
    * the build parameters); the parameters are the fallback for an
    * index predating the config pin. The plane MODULUS follows the
    * same rule (ADVICE r15 #1) — see [[probeBanding]].
    */
  def scoreExternal(queries: DataFrame, s: SparkSession, table: String,
      nBands: Int = NBands, bits: Int = Bits,
      dim: Int = CosSim.EmbDim): DataFrame = {
    val (nb, bt, dm, pm) = probeBanding("scoreExternal", table,
      TO.readIndexConfig(s, table), nBands, bits, dim)
    val bands = TO.exceptTombstones(s.table(table), s,
      table + "_del", "vec_id")
    val vecs = TO.exceptTombstones(s.table(table + "_vec"), s,
      table + "_del", "vec_id")
    scoreExternalFrames(queries, bands, vecs, nb, bt, dm, pm)
  }

  /** The (nbands, bits, dim, plane modulus) an external probe bands
    * its queries under. A `_cfg` pin wins and must carry `planemod`:
    * a pin without it does not say which hash family the stored bands
    * live in, so the probe refuses and names the repair that re-pins
    * it. No pin at all falls back to the caller's parameters and the
    * derived modulus (0, see [[Ann.bandKeys]]), matching [[write]]'s
    * crash-window contract (pin written last, so cfg-absent data is
    * always current-code, derived-modulus data). */
  private def probeBanding(verb: String, table: String,
      cfg: Option[Map[String, Int]], nBands: Int, bits: Int,
      dim: Int): (Int, Int, Int, Int) = cfg match {
    case Some(c) =>
      require(c.contains("planemod"), s"$verb: config pin " +
        s"${table}_cfg has no planemod — run the family repair " +
        s"(AnnIndex.family(\"$table\").repair) to re-pin it")
      (c("nbands"), c("bits"), c("dim"), c("planemod"))
    case None => (nBands, bits, dim, 0)
  }

  /** The [[scoreExternal]] body over explicit index FRAMES — shared
    * by the live path (catalog tables minus live tombstones) and the
    * as-of path ([[scoreAsOf]]: readSnapshot's file-pinned frames),
    * so the two cannot drift (the streamingBm25 one-definition
    * discipline). */
  private def scoreExternalFrames(queries: DataFrame,
      bands: DataFrame, vecs: DataFrame,
      nb: Int, bt: Int, dm: Int, pm: Int): DataFrame = {
    val qb = Ann.prepExternal(queries, dm)
      .withColumn("bands", Ann.bandKeys(col("qv"), nb, bt, dm, pm))
      .select(col("q_id"), col("qv"), col("qn"),
        posexplode(col("bands")))
      .toDF("q_id", "qv", "qn", "band_idx", "bits")
      .select(col("q_id"), col("qv"), col("qn"),
        concat(col("band_idx").cast("string"), lit(":"),
          col("bits")).as("band_key"))
    qb.join(bands, "band_key")
      .select(col("q_id"), col("vec_id"), col("qv"), col("qn"))
      .dropDuplicates("q_id", "vec_id")
      .join(vecs, "vec_id")
      .select(col("q_id"), col("vec_id"),
        CosSim.sentinel(expr("graft_dot(v, qv)"),
          col("nrm"), col("qn")).as("sim"))
  }

  /** [[scoreExternal]] AS OF a `<tag>` manifest snapshot WITHOUT
    * restoring anything (r17, VERDICT item 5): bands, payload and
    * the tombstone list come from
    * [[graft.operators.TextOps.readSnapshot]]'s file-pinned frames
    * (fold-anchor-aware), the banding config from the snapshot's own
    * `_cfg` meta copy — the pins the index was SERVING under at the
    * tag, not today's. One scoring definition ([[
    * scoreExternalFrames]]) for live and as-of, so parity holds by
    * construction (AsOfProbeSpec gates it against a restored copy).
    * Plain parquet scans + a one-off Exchange: the audit path, not
    * the serving path. */
  def scoreAsOf(queries: DataFrame, s: SparkSession, table: String,
      tag: String, nBands: Int = NBands, bits: Int = Bits,
      dim: Int = CosSim.EmbDim): DataFrame = {
    val mf = s"${table}_mf_$tag"
    require(s.catalog.tableExists(mf), s"scoreAsOf: no manifest $mf")
    val manifest = TO.readManifest(s, mf)
    val cfg =
      if (s.catalog.tableExists(s"${table}_cfg_bak_mf$tag")) {
        val row = TO.readSnapshot(s, table, tag, "_cfg").collect()(0)
        Some(row.schema.fieldNames.map(k =>
          k -> row.getAs[Int](k)).toMap)
      } else None
    val (nb, bt, dm, pm) = probeBanding("scoreAsOf", table, cfg,
      nBands, bits, dim)
    val del =
      if (manifest.contains(table + "_del"))
        Some(TO.readSnapshot(s, table, tag, "_del"))
      else None
    val bands = TO.exceptTombstonesFrame(
      TO.readSnapshot(s, table, tag), del, "vec_id")
    val vecs = TO.exceptTombstonesFrame(
      TO.readSnapshot(s, table, tag, "_vec"), del, "vec_id")
    scoreExternalFrames(queries, bands, vecs, nb, bt, dm, pm)
  }

  /** The stored ANN index for `sfDir`'s embeddings, built on first use
    * per process + catalog (the bm25Index memo contract: catalog IS the
    * memo, `_ok` marker commits a build, dead-pid leftovers swept,
    * builds serialized under the shared lock). Returns the base table
    * name; `<name>_vec` is the payload twin.
    */
  /** The payload metadata the memoized corpus index stores — `label`
    * feeds the filtered probe (q_annf). */
  val PayloadCols: Seq[String] = Seq("label")

  def annIndex(s: SparkSession, sfDir: String): String =
    TO.memoIndex(s, "graft_ann_idx", sfDir, Seq("_vec", "_cfg"),
      // schema-evolution guard alongside the existence memo: an index
      // built by an older code path (or a crashed build) may lack the
      // payload columns the filtered probe needs — rebuild rather than
      // fail at probe time with a missing-column error
      complete = t => {
        val cols = s.table(t + "_vec").columns.toSet
        PayloadCols.forall(cols.contains)
      }) { t =>
      write(Tables(s, sfDir, "embeddings"), t, payloadCols = PayloadCols)
    }
}

/** STORED IVF quantizer + cell assignments (VERDICT r11 #2): the
  * k-means training loop ([[Ivf.kmeansCentroids]] — 2 full corpus
  * passes + a Lloyd update) runs ONCE at build time; q_simsearch_ivf
  * then probes a bucketed (vec_id, v, nrm, cell) table with zero
  * Exchange on the corpus side. The centroids land in `<table>_cent`
  * (cell, c) so external queries (streaming, new vectors) can be
  * cell-routed without touching the corpus — the piece a per-run
  * retrain made impossible. Same memo/marker/sweep machinery as
  * [[AnnIndex]].
  */
object IvfIndex {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import graft.operators.{TextOps => TO}

  /** The memoized corpus quantizer's config — q_simsearch_ivf's 8
    * cells, 2 assignment passes over the 64-wide embeddings. */
  val K = 8
  val Iters = 2

  def write(emb: DataFrame, table: String, k: Int = K,
      dim: Int = CosSim.EmbDim, iters: Int = Iters,
      nBuckets: Int = 8): Unit = TO.withBuildLock(emb.sparkSession) {
    val s = emb.sparkSession
    TO.clearOrphanLocation(s, table)
    TO.clearOrphanLocation(s, table + "_cent")
    // rebuilt rows ride at the top surviving finite barrier, not
    // gen 0 (TextOps.rebuildGen — ADVICE r14)
    val gTop = TO.rebuildGen(s, table + "_del")
    // persisted: the seed collect, each Lloyd pass, and the final
    // assignment all rescan the normalized corpus. Legal holds gate
    // the build door — held vectors neither train nor store (r15).
    val e = Ann.prepStrict(TO.exceptHeld(emb, s, table + "_hold",
      "vec_id"), dim).persist()
    try {
      val cents = Ivf.kmeansCentroids(e, k, dim, iters)
      Ivf.assignCells(e, cents).withColumn("gen", lit(gTop))
        .write.mode("overwrite")
        .bucketBy(nBuckets, "cell").sortBy("cell")
        .saveAsTable(table)
      val sp = s
      import sp.implicits._
      cents.toDF("cell", "c").write.mode("overwrite")
        .saveAsTable(table + "_cent")
    } finally { e.unpersist(); () }
  }

  /** APPEND-ONLY maintenance for the stored IVF index: new vectors are
    * assigned with the STORED quantizer (centroids read from
    * `<table>_cent`, the same [[Ivf.assignCells]] regime dispatch as
    * the build) and their rows appended to the bucketed cells table —
    * nothing rewritten, no retraining, per-batch cost O(batch·k).
    * DELIBERATE IVF semantics: the quantizer is frozen at build time,
    * so appended vectors land in the nearest EXISTING cell — the
    * standard inverted-file practice (append at ingest, retrain
    * periodically when drift warrants a [[write]] rebuild); an
    * append-grown index therefore equals a from-scratch build ONLY
    * when the centroids agree, which AnnIndexSpec gates by comparing
    * appended assignments against assignCells under the stored
    * centroids. dim is DERIVED from the stored centroids (r13 — the
    * quantizer is the config store), so an append cannot canonicalize
    * to a width the index wasn't built at.
    */
  def append(emb: DataFrame, table: String, nBuckets: Int = 8,
      gen: Long = 0L): Unit =
    // build-lock scope: the AnnIndex.append rationale (append vs
    // maintenance-swap file-listing race)
    TO.withBuildLock(emb.sparkSession) {
    val s = emb.sparkSession
    require(s.catalog.tableExists(table + "_cent"),
      s"IvfIndex.append: no stored quantizer ${table}_cent — build " +
        "with IvfIndex.write first (append never retrains)")
    val cents = loadCentroids(s, table)
    val e = Ann.prepStrict(TO.exceptHeld(emb, s,
      table + "_hold", "vec_id"), cents.head._2.length)
    Ivf.assignCells(e, cents).withColumn("gen", lit(gen))
      .write.mode("append")
      .bucketBy(nBuckets, "cell").sortBy("cell")
      .saveAsTable(table)
  }

  /** UPSERT vectors — the [[AnnIndex.upsert]] contract for the IVF
    * cells family: old assignments die under a fresh finite barrier,
    * the batch re-assigns with the FROZEN stored quantizer (upsert
    * changes what answers, never how it's routed — retraining stays
    * [[refresh]]'s job) and appends at gen = barrier. One build-lock
    * scope, O(batch·k).
    */
  def upsert(emb: DataFrame, table: String, nBuckets: Int = 8): Unit =
    TO.withBuildLock(emb.sparkSession) {
      val s = emb.sparkSession
      val g = TO.nextGen(s, table + "_del")
      TO.tombstone(s, table + "_del", emb.select(col("vec_id")),
        "vec_id", gen = g)
      append(emb, table, nBuckets, gen = g)
    }

  /** ONE centroid decode for every consumer of the stored quantizer
    * (append, the stateless probe) — two copies could drift on a
    * `_cent` schema change (review r13). */
  private def loadCentroids(s: SparkSession,
      table: String): Seq[(Int, Seq[Double])] =
    s.table(table + "_cent").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))
      .sortBy(_._1).toSeq

  /** The IVF family's lifecycle ([[IndexFamily]]): the cells member,
    * the `_cent` quantizer as sidecar (its shape — k centroids of dim —
    * is the config describe reports) and the drift leg
    * ([[quantizationError]] gauged on every operator pass,
    * [[refresh]] over `refreshWith`). Rows routed to a cell the stored
    * quantizer doesn't have heal by RE-ASSIGNING every row with that
    * quantizer (the member retains the exact vectors, so re-routing is
    * definitionally correct and changes no content); a lost quantizer
    * or wrong-width vectors have no safe heal. */
  def family(table: String): IndexFamily = new IndexFamily(table,
    members = Seq(table), idCol = "vec_id", callerIdCol = "vec_id",
    swapSiblings = Seq(table + "_cent"),
    sidecar = Some("quantizer" -> (table + "_cent")),
    cfgOf = s => {
      val cents = loadCentroids(s, table)
      Map("k" -> cents.size,
        "dim" -> cents.headOption.map(_._2.length).getOrElse(0))
    },
    invariant = (s, live) => {
      // every live assignment routes to a cell the stored quantizer
      // has and carries a vector of the quantizer's width
      val cents = loadCentroids(s, table)
      val dim = cents.head._2.length
      val rows = live(table)
      val routed = rows.filter(!col("cell").isin(cents.map(_._1): _*))
        .select("vec_id", "cell").limit(5).collect()
        .map(r => s"vec_id ${r.getLong(0)} routed to unknown cell " +
          s"${r.get(1)}")
      val bad = rows.filter(size(col("v")) =!= dim).count()
      routed.toSeq ++
        (if (bad > 0) Seq(s"$bad assigned vectors are not dim $dim")
         else Nil)
    },
    heals = Seq(IndexFamily.Heal(_.contains("unknown cell"),
      "re-assigned rows with the stored quantizer", s => {
        val cents = loadCentroids(s, table)
        // repair rewrite: FoldGuard.Orphan (see the Ann heal)
        TO.rewriteBucketed(s, table, guard = TO.FoldGuard.Orphan,
          transform = df => {
          val withG =
            if (df.columns.contains("gen")) df
            else df.withColumn("gen", lit(0L))
          Ivf.assignCells(withG.drop("cell"), cents)
            .select(col("vec_id"), col("v"), col("nrm"),
              col("cell"), col("gen"))
        })
      })),
    quantizer = Some(IndexFamily.Quantizer(
      gauge = (s, _) => Some(() => quantizationError(s, table)),
      refresh = (e, guard) => refresh(e, table, guard = guard))))

  /** The IVF drift gauge (the [[PqIndex.quantizationError]] sibling):
    * mean (1 − cos(v, centroid)) over the STORED assignments — how far
    * the vectors in service sit from the cell centers routing them.
    * Appends under the frozen quantizer raise it as the ingest
    * distribution drifts (new vectors land in far-away nearest cells);
    * this is the number a user watches to decide when [[refresh]] is
    * due. Unlike PQ's gauge it needs no external vectors: the cells
    * table retains `v`, so one bucketed scan × broadcast(k centroids)
    * measures exactly what probes see. Zero-norm rows are excluded
    * (their sentinel cosine is a convention, not a distance).
    */
  def quantizationError(s: SparkSession, table: String): Double = {
    val cents = s.table(table + "_cent")
      .select(col("cell"), col("c").as("cv"))
      .withColumn("cnrm", expr("sqrt(graft_dot(cv, cv))"))
    val r = s.table(table).join(broadcast(cents), "cell")
      .filter(col("nrm") > 0d && col("cnrm") > 0d)
      .agg(avg(lit(1.0) -
        expr("graft_dot(v, cv)") / (col("nrm") * col("cnrm"))))
      .collect()(0)
    // zero measurable rows (empty index, all-degenerate vectors) →
    // avg is NULL; report "no drift" instead of an opaque NPE from a
    // maintenance loop polling the gauge (review r13)
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** RETRAIN-AND-SWAP maintenance (the [[PqIndex.refresh]] sibling):
    * retrain the quantizer on `emb` (the current corpus — original
    * plus appended drift), reassign everything, and promote BOTH
    * tables via the atomic [[TextOps.swapIndexTables]] dance under the
    * shared build lock. k and dim are inherited from the CURRENT
    * stored centroids — refresh moves the cell centers, never the cell
    * count or width. Deterministic training (lowest-vec_id seeds,
    * integer-scaled Lloyd means) makes a refreshed index BIT-IDENTICAL
    * to a from-scratch [[write]] over the same corpus (IvfRefreshSpec)
    * — write's cost without the serving gap.
    *
    * Crash contract: same as PqIndex.refresh — the centroids and
    * cells promote together through [[TextOps.swapIndexTableGroup]],
    * so a crash at any step converges to the all-new pair on recovery
    * (GroupSwapSpec); new centers can no longer serve old assignments.
    */
  def refresh(emb: DataFrame, table: String, iters: Int = Iters,
      nBuckets: Int = 8,
      guard: TO.FoldGuard = TO.FoldGuard.Refuse): Unit = {
    val s = emb.sparkSession
    TO.withBuildLock(s) {
      TO.recoverGroupSwap(s, table)
      TO.recoverSwap(s, table)
      TO.recoverSwap(s, table + "_cent")
      // a retrain-and-swap rewrites every cells file — fold-aware
      // snapshot check first (r17)
      TO.guardFold(s, s"IvfIndex.refresh of $table", Seq(table), guard)
      val stored = s.table(table + "_cent").collect()
      val k = stored.length
      val dim = stored.head.getSeq[Double](1).length
      val cellsTmp = table + "_compact"
      val centTmp = table + "_cent_compact"
      Seq(cellsTmp, centTmp).foreach { x =>
        s.sql(s"DROP TABLE IF EXISTS $x"); TO.clearOrphanLocation(s, x)
      }
      val e = Ann.prepStrict(TO.exceptHeld(emb, s,
        table + "_hold", "vec_id"), dim).persist()
      try {
        val cents = Ivf.kmeansCentroids(e, k, dim, iters)
        // re-materialized rows land at the CURRENT top finite
        // generation (r14): the family's upsert barriers survive a
        // refresh, so rows stamped below them would read as
        // superseded — the refreshed corpus is current by definition,
        // so it rides at the top barrier (0 when no upserts ever ran;
        // terminal deletions still kill their ids at any gen)
        val gTop = TO.nextGen(s, table + "_del") - 1
        Ivf.assignCells(e, cents).withColumn("gen", lit(gTop)).write
          .bucketBy(nBuckets, "cell").sortBy("cell")
          .saveAsTable(cellsTmp)
        val sp = s
        import sp.implicits._
        cents.toDF("cell", "c").write.saveAsTable(centTmp)
      } finally { e.unpersist(); () }
      TO.swapIndexTableGroup(s, table,
        Seq(table + "_cent" -> centTmp, table -> cellsTmp))
    }
  }

  /** Cell-probe top-k from the stored assignments: queries fetched by
    * vec_id filter off the same table carry their cell, candidates are
    * one cell equi-join (broadcast query side — the corpus side is a
    * bucketed scan, zero Exchange), rescoring is exact within the
    * probed cell only. Identical semantics to the pre-r12 inline form.
    */
  def topK(s: SparkSession, table: String,
      isQuery: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      k: Int): DataFrame = {
    val cells = TO.exceptTombstones(s.table(table), s,
      table + "_del", "vec_id")
    val q = cells.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("cell").as("q_cell"))
    val sim = CosSim.sentinel(expr("graft_dot(v, qv)"),
      col("nrm"), col("qn"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    cells.join(broadcast(q), col("cell") === col("q_cell") &&
        col("vec_id") =!= col("q_id"))
      .withColumn("sim", sim)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("cell"), col("sim"))
  }

  /** MULTI-PROBE cell top-k (the standard IVF recall lever): each query
    * ranks the stored centroids by the same rounded sentinel cosine the
    * quantizer assigns with — probe 1 is therefore always the query's
    * own cell, so nprobe=1 degenerates to [[topK]] — and rescans its
    * `nprobe` nearest cells; a query sitting near a cell boundary then
    * finds neighbors quantized into the adjacent cell. Shape: queries ×
    * broadcast(k centroids) for the cell ranking (k·|queries| rows),
    * then ONE cell equi-join against the bucketed table with the
    * nprobe-exploded query side broadcast — the corpus side stays a
    * bucketed scan; probe cost is nprobe/k of the corpus per query.
    */
  def topKMultiProbe(s: SparkSession, table: String,
      isQuery: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      k: Int, nprobe: Int): DataFrame = {
    val cells = TO.exceptTombstones(s.table(table), s,
      table + "_del", "vec_id")
    val q = cells.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    multiProbeCore(s.table(table + "_cent"), cells, q, k, nprobe,
      selfExclude = true)
  }

  /** EXTERNAL-QUERY multi-probe serving — the [[AnnIndex
    * .scoreExternal]] shape for the IVF index: `queries` is (q_id,
    * embedding) in its OWN id namespace (no self-exclusion — external
    * queries are not corpus members); each arriving vector is
    * canonicalized at the stored quantizer's width, ranks the
    * broadcast centroids, and rescans its nprobe nearest cells off
    * the bucketed table. ONE probe pipeline with the member form
    * ([[multiProbeCore]]), so serving and analysis cannot drift.
    */
  def scoreExternal(queries: DataFrame, s: SparkSession, table: String,
      k: Int, nprobe: Int = 1): DataFrame = {
    val cells = TO.exceptTombstones(s.table(table), s,
      table + "_del", "vec_id")
    val cents = s.table(table + "_cent")
    val dim = cents.select(size(col("c"))).head().getInt(0)
    val q = Ann.prepExternal(queries, dim)
    multiProbeCore(cents, cells, q, k, nprobe, selfExclude = false)
  }

  /** [[scoreExternal]] AS OF a `<tag>` manifest snapshot WITHOUT
    * restoring anything — the [[AnnIndex.scoreAsOf]] shape for the
    * IVF index: cells and the tombstone list come from
    * [[graft.operators.TextOps.readSnapshot]]'s file-pinned frames,
    * the CENTROIDS from the snapshot's own `_cent` meta copy — the
    * quantizer the index was serving under at the tag, not today's
    * (an [[refresh]]ed quantizer must not re-route an as-of probe).
    * One probe pipeline ([[multiProbeCore]]) with the live paths, so
    * parity holds by construction (AsOfProbeSpec gates it against a
    * restored copy). Audit path, not the serving path. */
  def scoreAsOf(queries: DataFrame, s: SparkSession, table: String,
      tag: String, k: Int, nprobe: Int = 1): DataFrame = {
    val mf = s"${table}_mf_$tag"
    require(s.catalog.tableExists(mf), s"scoreAsOf: no manifest $mf")
    val manifest = TO.readManifest(s, mf)
    val del =
      if (manifest.contains(table + "_del"))
        Some(TO.readSnapshot(s, table, tag, "_del"))
      else None
    val cells = TO.exceptTombstonesFrame(
      TO.readSnapshot(s, table, tag), del, "vec_id")
    val cents = TO.readSnapshot(s, table, tag, "_cent")
    val dim = cents.select(size(col("c"))).head().getInt(0)
    val q = Ann.prepExternal(queries, dim)
    multiProbeCore(cents, cells, q, k, nprobe, selfExclude = false)
  }

  /** STREAM-SAFE external candidate generation: like [[scoreExternal]]
    * but with the per-query centroid ranking computed as a STATELESS
    * expression over the k DRIVER-COLLECTED centroids (an array of
    * (−sim, cell) structs, array_sorted and sliced to nprobe) instead
    * of a window — window functions are not allowed on a streaming
    * side, which is exactly what blocked an online IVF serving twin.
    * Emits ALL scored candidates of the probed cells (the
    * streamingAnn/streamingBm25 contract: the top-k cut belongs to
    * the consumer). Tie order matches [[multiProbeCore]]'s ranking
    * (sim desc, cell asc), so batch candidates equal scoreExternal's
    * pre-cut set row-for-row (ExternalProbeSpec).
    */
  def scoreExternalCandidates(queries: DataFrame, s: SparkSession,
      table: String, nprobe: Int = 1): DataFrame = {
    val cells = TO.exceptTombstones(s.table(table), s,
      table + "_del", "vec_id")
    val cents = loadCentroids(s, table)
    val dim = cents.head._2.length
    val q = Ann.prepExternal(queries, dim)
    // one (−sim, cell) struct per centroid, each against a LITERAL
    // centroid vector; ascending array_sort of the structs is exactly
    // multiProbeCore's (sim desc, cell asc) ranking
    val rankedCells = cents.map { case (cell, c) =>
      struct((-CosSim.sentinel(
          call_function("graft_dot", col("qv"), typedlit(c)),
          col("qn"),
          lit(math.sqrt(c.map(x => x * x).sum)))).as("negsim"),
        lit(cell).as("cell"))
    }
    val probeQ = q
      .withColumn("probes",
        slice(array_sort(array(rankedCells: _*)), 1, nprobe))
      .select(col("q_id"), col("qv"), col("qn"),
        explode(expr("transform(probes, p -> p.cell)")).as("q_cell"))
    val sim = CosSim.sentinel(expr("graft_dot(v, qv)"),
      col("nrm"), col("qn"))
    cells.join(probeQ, col("cell") === col("q_cell"))
      .select(col("q_id"), col("vec_id"), col("cell"), sim.as("sim"))
  }

  /** The ONE multi-probe pipeline behind the member, external AND
    * as-of probes (`centsRaw` = a (cell, c) centroids frame — the
    * live `_cent` table or a snapshot's meta copy): centroid ranking
    * per query (broadcast k centroids), nprobe-exploded query side
    * broadcast into one cell equi-join against the bucketed cells
    * scan, exact sentinel-cosine rescoring, rank cut. */
  private def multiProbeCore(centsRaw: DataFrame,
      cells: DataFrame, q: DataFrame, k: Int, nprobe: Int,
      selfExclude: Boolean): DataFrame = {
    val cents = centsRaw
      .select(col("cell"), col("c").as("cv"))
      .withColumn("cnrm", expr("sqrt(graft_dot(cv, cv))"))
    val csim = CosSim.sentinel(expr("graft_dot(qv, cv)"),
      col("qn"), col("cnrm"))
    val wq = Window.partitionBy("q_id")
      .orderBy(col("csim").desc, col("cell").asc)
    val probe = q.crossJoin(broadcast(cents))
      .withColumn("csim", csim)
      .withColumn("crn", row_number().over(wq))
      .filter(col("crn") <= nprobe)
      .select(col("q_id"), col("qv"), col("qn"),
        col("cell").as("q_cell"))
    val sim = CosSim.sentinel(expr("graft_dot(v, qv)"),
      col("nrm"), col("qn"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    val excl =
      if (selfExclude) col("vec_id") =!= col("q_id") else lit(true)
    cells.join(broadcast(probe),
        col("cell") === col("q_cell") && excl)
      .withColumn("sim", sim)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("cell"), col("sim"))
  }

  /** Memoized stored quantizer for `sfDir`'s embeddings — the
    * [[AnnIndex.annIndex]] contract (catalog memo, `_ok` marker, sweep,
    * shared build lock). Returns the cells table name; `<name>_cent`
    * holds the centroids.
    */
  def ivfIndex(s: SparkSession, sfDir: String): String =
    TO.memoIndex(s, "graft_ivf_idx", sfDir, Seq("_cent")) { t =>
      write(Tables(s, sfDir, "embeddings"), t)
    }
}

/** STORED product-quantization index — the compression rung below
  * q_sq8's int8 scalar quantization: each 64-dim vector is split into
  * [[PqIndex.M]] subspaces of [[PqIndex.SubDim]] dims, each subvector
  * replaced by the id of its nearest codebook centroid (squared-L2,
  * [[PqIndex.Ks]] centroids per subspace, trained with the same
  * deterministic seed-init + integer-scaled-Lloyd scheme as
  * [[Ivf.kmeansCentroids]]). A stored vector is then M small codes —
  * 8 ints against 64 floats, the 32× payload shrink (Jégou et al.,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011)
  * that keeps a 100 TB corpus's candidate scoring RAM-resident.
  *
  * Scoring is ADC (asymmetric distance computation): the QUERY stays
  * exact; per query a lookup table of subspace dot products
  * (M × Ks = 128 rows) is built once and broadcast, and a candidate's
  * score is the SUM of M table lookups — the codes table is never
  * reconstructed into vectors and the heavy arrays never travel.
  * Both partial sums go through [[Det.exactSum]]'s decimal grid so the
  * unordered 8-way sum is bit-identical in Spark and the DuckDB oracle.
  *
  * Tables (the [[IvfIndex]] layout): `<t>` = (vec_id, codes array<int>)
  * bucketed on vec_id; `<t>_cb` = (sub, cid, c, nc2) codebook,
  * M·Ks rows. [[append]] encodes new vectors with the STORED codebook
  * (frozen at build, the IVF-append contract) — per-batch cost
  * O(batch·M·Ks), nothing rewritten, no retraining.
  */
object PqIndex {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import graft.operators.{TextOps => TO}

  /** The memoized corpus index's config — M·SubDim equals the testdata
    * dim (CosSim.EmbDim). These are DEFAULTS, not pins (r13): every
    * entry point below takes (m, subDim, ks) — or derives them from
    * the stored codebook, whose rows fully determine the grid
    * (m = max(sub), subDim = len(c), and dim = m·subDim), so a
    * 768-dim corpus trains m=8 × subDim=96 (or m=96 × 8) with the
    * same machinery (WideDimSpec).
    */
  val M = 8
  val SubDim = 8
  val Ks = 16

  private val scale = 1000000.0

  /** (vec_id, nrm, sub, s) subvector rows, sub in 1..m — the reshape
    * is pure element movement, so Spark's slice and the oracle's
    * list(v[i] ORDER BY i) grouping produce identical doubles. nrm is
    * the ORIGINAL full-vector norm riding toward the codes table (see
    * [[toCodeRows]]). */
  private def subvectors(e: DataFrame, m: Int, subDim: Int): DataFrame = {
    val subs = array((1 to m).map(s =>
      struct(lit(s).as("sub"),
        slice(col("v"), (s - 1) * subDim + 1, subDim).as("s"))): _*)
    e.select(col("vec_id"), col("nrm"), explode(subs).as("x"))
      .select(col("vec_id"), col("nrm"), col("x.sub").as("sub"),
        col("x.s").as("s"))
  }

  /** The (m, subDim) grid a codebook frame was trained with — the
    * codebook IS the config store (one driver-side aggregate over
    * m·ks rows), so encode/append/probe can never drift from the
    * build. */
  private def cbGrid(cb: DataFrame): (Int, Int) = {
    val r = cb.agg(max(col("sub")), max(size(col("c")))).collect()(0)
    (r.getInt(0), r.getInt(1))
  }

  /** Squared L2 via the dot identity |s|²+|c|²−2·s·c: every term is a
    * fixed-order graft_dot/list_dot_product fold over identical
    * doubles, so d2 is bit-identical across engines and the
    * (d2 ASC, cid ASC) tiebreak needs no rounding. */
  private val d2 =
    expr("graft_dot(s, s) + graft_dot(c, c) - 2 * graft_dot(s, c)")

  /** Nearest-centroid code per (vec_id, sub) against codebook frame
    * `cb` = (sub, cid, c). The codebook is M·Ks rows — broadcast; cost
    * is O(rows·M·Ks) subspace dots, partition-parallel. */
  private def assignCodes(sv: DataFrame, cb: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id", "sub")
      .orderBy(col("d2").asc, col("cid").asc)
    sv.join(broadcast(cb), "sub")
      .withColumn("d2", d2)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("nrm"), col("sub"), col("s"),
        col("cid"))
  }

  /** One Lloyd update per (sub, cid): element-wise integer-scaled means
    * (long sums are order-free → exact), the meanCentroids arithmetic
    * on the subspace grid. One map-side-combined aggregation; m·ks rows
    * out. */
  private def meanCodebook(assigned: DataFrame, subDim: Int): DataFrame = {
    val sums = (0 until subDim).map(i =>
      sum(floor(col("s")(i) * lit(scale) + lit(0.5)).cast("long"))
        .as(s"s$i"))
    val cx = (0 until subDim).map(i =>
      col(s"s$i").cast("double") / (lit(scale) * col("n")))
    assigned.groupBy(col("sub"), col("cid"))
      .agg(count(lit(1)).as("n"), sums: _*)
      .select(col("sub"), col("cid"), array(cx: _*).as("c"))
  }

  /** (vec_id, nrm, codes) rows: the M codes assembled in subspace
    * order, plus the ORIGINAL full-vector norm — the standard
    * inner-product/cosine-PQ correction term (8 bytes next to the
    * codes). It exists so a zero-norm/NULL original scores the
    * library-wide sentinel -1.0 at probe time: the reconstruction of a
    * degenerate vector is a NONZERO codeword, and without the stored
    * norm ADC would hand it a legitimate-looking cosine that could
    * displace real neighbors (the CosSim contract: degenerate vectors
    * stay at the BOTTOM of every ranking). */
  private def toCodeRows(codes: DataFrame): DataFrame =
    codes.groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("sub"), col("cid"))))
        .as("cs"), max(col("nrm")).as("nrm"))
      .select(col("vec_id"), col("nrm"),
        expr("transform(cs, x -> x.cid)").as("codes"))

  /** Train the codebook alone (seed init from the ks lowest vec_ids'
    * subvectors + one integer-scaled Lloyd update — the quantizerCtes
    * shape) and store `<t>_cb`, WITHOUT encoding anything — the seed
    * step for streaming/append-only ingest, where the training corpus
    * and the arriving vectors are different populations. The stored
    * codebook carries the whole (m, subDim, ks) grid implicitly, so
    * no other config row is needed downstream. */
  def trainCodebook(emb: DataFrame, table: String, m: Int = M,
      subDim: Int = SubDim, ks: Int = Ks): Unit =
    trainCodebookTo(emb, table + "_cb", m, subDim, ks)

  /** The training body, targeting an explicit codebook TABLE name — so
    * [[refresh]] can train into a `_cb_compact` replacement and
    * promote it with the atomic swap instead of overwriting the
    * codebook probes are reading. */
  private def trainCodebookTo(emb: DataFrame, cbTable: String, m: Int,
      subDim: Int, ks: Int): Unit = {
    val s = emb.sparkSession
    TO.clearOrphanLocation(s, cbTable)
    val e = Ann.prepStrict(emb, m * subDim).persist()
    try {
      val sv = subvectors(e, m, subDim)
      val cb0 = sv.filter(col("vec_id") < ks)
        .select(col("sub"), col("vec_id").cast("int").as("cid"),
          col("s").as("c"))
      // seed density contract (the kmeansCentroids require): fewer
      // than ks seed vectors would silently train a smaller codebook
      require(cb0.count() == m.toLong * ks,
        s"PqIndex.trainCodebook: expected $ks seed vectors with vec_id " +
          s"in [0, $ks) — ids must be dense from 0")
      meanCodebook(assignCodes(sv, cb0), subDim)
        .withColumn("nc2", expr("graft_dot(c, c)"))
        .write.mode("overwrite").saveAsTable(cbTable)
    } finally { e.unpersist(); () }
  }

  /** Train and store codebook + codes: [[trainCodebook]] then one
    * [[append]] of the whole corpus — byte-identical to a fused build
    * (parquet doubles roundtrip exactly, so encoding under the STORED
    * codebook equals encoding under the in-flight one), and it keeps
    * ONE encode definition for build, append, and streaming ingest. */
  def write(emb: DataFrame, table: String, nBuckets: Int = 8,
      m: Int = M, subDim: Int = SubDim, ks: Int = Ks): Unit =
      TO.withBuildLock(emb.sparkSession) {
    val s = emb.sparkSession
    TO.clearOrphanLocation(s, table)
    s.sql(s"DROP TABLE IF EXISTS $table")
    // legal holds gate the build door — held vectors neither train
    // the codebook nor store codes (append filters the store) (r15)
    trainCodebook(TO.exceptHeld(emb, s, table + "_hold", "vec_id"),
      table, m, subDim, ks)
    // rebuilt rows ride at the top surviving finite barrier, not
    // gen 0 (TextOps.rebuildGen — ADVICE r14)
    append(emb, table, nBuckets, gen = TO.rebuildGen(s, table + "_del"))
  }

  /** Encode vectors under a GIVEN codebook frame (sub, cid, c) — the
    * shared definition [[append]] writes and AnnIndexSpec's
    * never-retrains gate recomputes. The grid comes from the codebook
    * itself ([[cbGrid]]), so an encode can never use a different
    * reshape than the training did. */
  private[graft] def encode(emb: DataFrame, cb: DataFrame): DataFrame = {
    val (m, subDim) = cbGrid(cb)
    toCodeRows(assignCodes(
      subvectors(Ann.prepStrict(emb, m * subDim), m, subDim), cb))
  }

  /** APPEND-ONLY maintenance: new vectors are encoded with the STORED
    * codebook (frozen at build — the [[IvfIndex.append]] contract:
    * retrain periodically via [[write]] when drift warrants) and their
    * code rows appended; nothing rewritten. */
  def append(emb: DataFrame, table: String, nBuckets: Int = 8,
      gen: Long = 0L): Unit =
    // build-lock scope: the AnnIndex.append rationale (append vs
    // maintenance-swap file-listing race)
    TO.withBuildLock(emb.sparkSession) {
    val s = emb.sparkSession
    require(s.catalog.tableExists(table + "_cb"),
      s"PqIndex.append: no stored codebook ${table}_cb — build with " +
        "PqIndex.write first (append never retrains)")
    // a dead process's orphaned codes directory would fail the CREATE
    // the first append performs (the guard every sibling append has)
    TO.clearOrphanLocation(s, table)
    val cb = s.table(table + "_cb").select(col("sub"), col("cid"),
      col("c"))
    encode(TO.exceptHeld(emb, s, table + "_hold", "vec_id"),
        cb).withColumn("gen", lit(gen))
      .write.mode("append").bucketBy(nBuckets, "vec_id").sortBy("vec_id")
      .saveAsTable(table)
  }

  /** UPSERT vectors — the [[AnnIndex.upsert]] contract for the PQ
    * codes family: old codes die under a fresh finite barrier, the
    * batch re-encodes with the FROZEN stored codebook (retraining
    * stays [[refresh]]'s job) and appends at gen = barrier. One
    * build-lock scope, O(batch·M·Ks).
    */
  def upsert(emb: DataFrame, table: String, nBuckets: Int = 8): Unit =
    TO.withBuildLock(emb.sparkSession) {
      val s = emb.sparkSession
      val g = TO.nextGen(s, table + "_del")
      TO.tombstone(s, table + "_del", emb.select(col("vec_id")),
        "vec_id", gen = g)
      append(emb, table, nBuckets, gen = g)
    }

  /** The PQ family's lifecycle ([[IndexFamily]]): the codes member,
    * the `_cb` codebook as sidecar (its grid — m subspaces × ks
    * codewords of subDim — is the config describe reports), and the
    * drift leg: the gauge reconstructs against the exact vectors, so
    * both it and the refresh need `refreshWith`. Every live code row
    * must carry exactly m codes (a short row would silently drop ADC
    * terms); short rows cannot be recomputed (the codes member stores
    * no original vectors) and a lost codebook cannot be guessed —
    * repair refuses both. */
  def family(table: String): IndexFamily = new IndexFamily(table,
    members = Seq(table), idCol = "vec_id", callerIdCol = "vec_id",
    swapSiblings = Seq(table + "_cb"),
    sidecar = Some("codebook" -> (table + "_cb")),
    cfgOf = s => {
      val cb = s.table(table + "_cb")
      val (m, subDim) = cbGrid(cb)
      Map("m" -> m, "subDim" -> subDim,
        "ks" -> cb.filter(col("sub") === 1).count().toInt)
    },
    invariant = (s, live) => {
      val (m, _) = cbGrid(s.table(table + "_cb"))
      val bad = live(table).filter(size(col("codes")) =!= m).count()
      if (bad > 0) Seq(s"$bad code rows do not have m=$m codes") else Nil
    },
    quantizer = Some(IndexFamily.Quantizer(
      gauge = (s, e) => e.map(x => () => quantizationError(s, table, x)),
      refresh = (e, guard) => refresh(e, table, guard = guard))))

  /** ADC top-k: `queries` = (vec_id, v) exact canon vectors. Builds the
    * per-query LUT (queries × codebook — |q|·M·Ks rows, broadcast),
    * explodes the stored codes (no shuffle on the bucketed scan), sums
    * the looked-up subspace dots and centroid norm² on Det's decimal
    * grid (order-free exact), and ranks the rounded sentinel cosine of
    * query vs the candidate's RECONSTRUCTION — computed without ever
    * materializing it. */

  def topK(s: SparkSession, table: String, queries: DataFrame,
      k: Int): DataFrame = {
    adcTopK(s.table(table + "_cb"),
      TO.exceptTombstones(s.table(table), s, table + "_del",
        "vec_id"),
      queries, k, cand = None)
  }

  /** [[topK]] AS OF a `<tag>` manifest snapshot WITHOUT restoring
    * anything — codes and tombstones from
    * [[graft.operators.TextOps.readSnapshot]]'s file-pinned frames,
    * the CODEBOOK from the snapshot's own `_cb` meta copy (the
    * training grid the codes were encoded under at the tag). Takes
    * the external (q_id, embedding) query shape every scoreExternal
    * takes, adapted through the same checked prep. One ADC pipeline
    * ([[adcTopK]]) with the live paths. Audit path, not serving. */
  def scoreAsOf(queries: DataFrame, s: SparkSession, table: String,
      tag: String, k: Int): DataFrame =
    asOfAdc(queries, s, table, tag, k, cand = None)

  /** [[topKPairs]] AS OF a `<tag>` manifest snapshot — the composed
    * IVF→PQ probe's (q_ivfpq) as-of rung: `cand` is the (q_id,
    * vec_id) candidate pairs a coarse as-of routing produced
    * (conventionally [[IvfIndex.scoreAsOf]] at a wide k against the
    * SAME cadence tag — the two families' pasts compose explicitly,
    * the BqIndex.scoreAsOf payload convention). Same snapshot frames
    * and ADC pipeline as [[scoreAsOf]]; codes join down to the
    * candidates BEFORE the LUT lookup, so even the audit path stays
    * O(candidates · M), never corpus-wide. */
  def scoreAsOfPairs(queries: DataFrame, s: SparkSession,
      table: String, tag: String, cand: DataFrame, k: Int): DataFrame =
    asOfAdc(queries, s, table, tag, k, cand = Some(cand))

  private def asOfAdc(queries: DataFrame, s: SparkSession,
      table: String, tag: String, k: Int,
      cand: Option[DataFrame]): DataFrame = {
    val mf = s"${table}_mf_$tag"
    require(s.catalog.tableExists(mf), s"scoreAsOf: no manifest $mf")
    val manifest = TO.readManifest(s, mf)
    val del =
      if (manifest.contains(table + "_del"))
        Some(TO.readSnapshot(s, table, tag, "_del"))
      else None
    val codes = TO.exceptTombstonesFrame(
      TO.readSnapshot(s, table, tag), del, "vec_id")
    val cb = TO.readSnapshot(s, table, tag, "_cb")
    val dim = cb.agg(max(size(col("c")) * col("sub")))
      .head().getInt(0)
    val q = Ann.prepExternal(queries, dim)
      .select(col("q_id").as("vec_id"), col("qv").as("v"))
    adcTopK(cb, codes, q, k, cand)
  }

  /** ONE ADC scoring pipeline for the corpus-wide, pair-restricted
    * AND as-of probes (review r12: topKPairs was a wholesale copy
    * that could drift from topK's ADC arithmetic; `cb`/`codesIn` =
    * the live tables or a snapshot's frames): per-query LUT (queries
    * × codebook, broadcast), stored-codes explode — restricted to the
    * candidate residents BEFORE the LUT lookup when `cand` is given —
    * decimal-grid-exact subspace sums, stored-norm sentinel guard,
    * rank cut.
    */
  private def adcTopK(cb: DataFrame, codesIn: DataFrame,
      queries: DataFrame,
      k: Int, cand: Option[DataFrame]): DataFrame = {
    // the stored codebook determines the subspace width — probes of a
    // wide-dim index (subDim = 96 at dim 768) slice with ITS grid.
    // ONE ROW suffices (every codeword has the same length — the
    // training grid), so the serving path pays a limit-1 lookup, not
    // the full max-aggregate cbGrid runs at build time (review r13)
    val subDim = cb.select(size(col("c"))).head().getInt(0)
    val q = queries.select(col("vec_id").as("q_id"), col("v"),
      expr("sqrt(graft_dot(v, v))").as("qn"))
    val lut = q.crossJoin(cb)
      .select(col("q_id"), col("sub"), col("cid"), col("qn"),
        expr(s"graft_dot(slice(v, (sub-1)*$subDim+1, $subDim), c)")
          .as("dp"),
        col("nc2"))
    val codesAll = codesIn
      .select(col("vec_id"), col("nrm"),
        posexplode(col("codes")).as(Seq("pos", "cid")))
      .select(col("vec_id"), col("nrm"), (col("pos") + 1).as("sub"),
        col("cid"))
    // corpus-wide: LUT keyed on (sub, cid), corpus self-pairs excluded;
    // pair-restricted: codes joined down to the candidates first, LUT
    // keyed per query — no self-pairs by construction
    val (codes, lutKeys, excl) = cand match {
      case Some(c) => (codesAll.join(c, "vec_id"),
        Seq("q_id", "sub", "cid"), lit(true))
      case None => (codesAll, Seq("sub", "cid"),
        col("vec_id") =!= col("q_id"))
    }
    // stored-norm guard first (degenerate original → sentinel), then
    // the reconstruction-norm cosine — the CosSim sentinel contract
    val sim = when(col("nrm") > lit(0d),
      CosSim.sentinel(col("dt"), sqrt(col("n2")), col("qn")))
      .otherwise(lit(-1.0d))
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    codes.join(broadcast(lut), lutKeys)
      .filter(excl)
      .groupBy(col("q_id"), col("vec_id"))
      .agg(Det.exactSum(col("dp"), 6).as("dt"),
        Det.exactSum(col("nc2"), 6).as("n2"),
        max(col("qn")).as("qn"), max(col("nrm")).as("nrm"))
      .withColumn("sim", sim)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("sim"))
  }

  /** Pair-restricted ADC top-k — the IVF-PQ probe shape (Jégou et al.
    * §V: a coarse quantizer picks each query's candidate cells, PQ
    * codes score only those residents). `cand` = (q_id, vec_id)
    * candidate pairs from the coarse index; the codes table is joined
    * down to the candidate residents BEFORE the LUT lookup, so probe
    * cost is O(Σ|cell| · M), never corpus-wide. */
  def topKPairs(s: SparkSession, table: String, queries: DataFrame,
      cand: DataFrame, k: Int): DataFrame = {
    adcTopK(s.table(table + "_cb"),
      TO.exceptTombstones(s.table(table), s, table + "_del",
        "vec_id"),
      queries, k, cand = Some(cand))
  }

  /** Memoized stored PQ index for `sfDir`'s embeddings — the
    * [[IvfIndex.ivfIndex]] contract (catalog memo, `_ok` marker, sweep,
    * shared build lock). */
  def pqIndex(s: SparkSession, sfDir: String): String =
    TO.memoIndex(s, "graft_pq_idx", sfDir, Seq("_cb")) { t =>
      write(Tables(s, sfDir, "embeddings"), t)
    }

  /** Mean quantization error of the STORED codes against the exact
    * vectors — the health metric that tells a user WHEN to [[refresh]]
    * (VERDICT r12 #4: append under a frozen codebook degrades SILENTLY
    * as the ingest distribution drifts; this is the drift gauge).
    * Defined as avg(1 − cos(v, reconstruction(v))) over vectors whose
    * exact and reconstructed norms are both nonzero — exactly the
    * ADC-vs-exact gap for the self-pair, since ADC scores a candidate
    * by the cosine of the query against the candidate's reconstruction
    * (Jégou et al. §III frame quantization quality the same way, as
    * the reconstruction distortion). 0 = lossless; rises as appended
    * vectors land far from every codeword. `emb` supplies the exact
    * vectors (the codes table deliberately doesn't retain them) and is
    * joined to the stored codes by vec_id, so the metric measures the
    * codes actually in service, not a re-encode. One partial-agg pass;
    * the codebook broadcasts.
    */
  def quantizationError(s: SparkSession, table: String,
      emb: DataFrame): Double = {
    val cb = s.table(table + "_cb")
    val (m, subDim) = cbGrid(cb)
    val e = Ann.prepStrict(emb, m * subDim)
    val codes = s.table(table)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("pos", "cid")))
      .select(col("vec_id"), (col("pos") + 1).as("sub"), col("cid"))
    val recon = codes
      .join(broadcast(cb.select(col("sub"), col("cid"), col("c"))),
        Seq("sub", "cid"))
      .groupBy("vec_id")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("sub"), col("c")))),
        x => x.getField("c"))).as("recon"))
    val r = e.join(recon, "vec_id")
      .withColumn("rnrm", expr("sqrt(graft_dot(recon, recon))"))
      .filter(col("nrm") > 0d && col("rnrm") > 0d)
      .agg(avg(lit(1.0) -
        expr("graft_dot(v, recon)") / (col("nrm") * col("rnrm"))))
      .collect()(0)
    // zero measurable rows (no shared vec_ids, all-degenerate) → avg
    // is NULL; report "no drift", never an NPE (review r13)
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** RETRAIN-AND-SWAP maintenance (VERDICT r12 #4): train a fresh
    * codebook on `emb` (the current corpus — original plus appended
    * drift), re-encode everything under it, and promote BOTH tables
    * via the atomic [[TextOps.swapIndexTables]] dance — the compaction
    * precedent, under the shared build lock so in-process probes and
    * builders serialize with the swap. The grid (m, subDim) and ks are
    * inherited from the CURRENT codebook: refresh changes the
    * codewords, never the layout.
    *
    * Determinism makes the parity gate exact: training is seeded from
    * the ks lowest vec_ids with integer-scaled Lloyd means, so a
    * refreshed index is BIT-IDENTICAL to a from-scratch [[write]] over
    * the same corpus (spec-gated) — refresh is write's cost without
    * the serving gap.
    *
    * Crash contract: the codebook and codes promote together through
    * [[TextOps.swapIndexTableGroup]] — an intent marker plus
    * rename-out/rename-in phases, so a crash at ANY step converges to
    * the all-new pair on the next refresh's [[TextOps
    * .recoverGroupSwap]] (gated in GroupSwapSpec); new codewords can
    * no longer serve old codes.
    */
  def refresh(emb: DataFrame, table: String, nBuckets: Int = 8,
      guard: TO.FoldGuard = TO.FoldGuard.Refuse): Unit = {
    val s = emb.sparkSession
    TO.withBuildLock(s) {
      TO.recoverGroupSwap(s, table)
      TO.recoverSwap(s, table)
      TO.recoverSwap(s, table + "_cb")
      // a retrain-and-swap rewrites every codes file — fold-aware
      // snapshot check first (r17)
      TO.guardFold(s, s"PqIndex.refresh of $table", Seq(table), guard)
      val cb = s.table(table + "_cb")
      val (m, subDim) = cbGrid(cb)
      val ks = (cb.count() / m).toInt
      val cbTmp = table + "_cb_compact"
      val codesTmp = table + "_compact"
      Seq(cbTmp, codesTmp).foreach { x =>
        s.sql(s"DROP TABLE IF EXISTS $x"); TO.clearOrphanLocation(s, x)
      }
      // legal holds gate the retrain door too (r15)
      val live = TO.exceptHeld(emb, s, table + "_hold", "vec_id")
      trainCodebookTo(live, cbTmp, m, subDim, ks)
      // re-encoded rows ride at the current top finite generation —
      // the IvfIndex.refresh rationale (upsert barriers survive a
      // refresh; the refreshed corpus is current by definition)
      val gTop = TO.nextGen(s, table + "_del") - 1
      encode(live, s.table(cbTmp).select(col("sub"), col("cid"), col("c")))
        .withColumn("gen", lit(gTop))
        .write.bucketBy(nBuckets, "vec_id").sortBy("vec_id")
        .saveAsTable(codesTmp)
      TO.swapIndexTableGroup(s, table,
        Seq(table + "_cb" -> cbTmp, table -> codesTmp))
    }
  }

  /** The sv/cb0/pa1/cb1/codes CTE bodies (no WITH, no `e` — the caller
    * supplies the canon `e`): per-subspace seed + Lloyd + assignment,
    * the quantizerCtes scheme on the subspace grid. Shared by the ADC
    * and IVF-PQ oracles (CTE names stay disjoint from quantizerCtes'
    * e/c0/a1/c1/cells so the two pipelines can co-exist in one WITH). */
  private def pqCtes: String = {
    def d2Sql(cb: String) =
      s"list_dot_product(sv.s, sv.s) + list_dot_product($cb.c, $cb.c) " +
        s"- 2 * list_dot_product(sv.s, $cb.c)"
    s"sv AS (SELECT vec_id, CAST((i-1)//$SubDim AS INT)+1 AS sub, " +
      "list(v[i] ORDER BY i) AS s " +
      s"FROM e, generate_series(1, ${M * SubDim}) t(i) " +
      s"GROUP BY vec_id, (i-1)//$SubDim), " +
      "cb0 AS (SELECT sub, CAST(vec_id AS INT) AS cid, s AS c FROM sv " +
      s"WHERE vec_id < $Ks), " +
      "pa1 AS (SELECT vec_id, sub, s, cid FROM (" +
      "SELECT sv.vec_id, sv.sub, sv.s, cb0.cid, row_number() OVER (" +
      s"PARTITION BY sv.vec_id, sv.sub ORDER BY ${d2Sql("cb0")} ASC, " +
      "cb0.cid ASC) AS rn " +
      "FROM sv JOIN cb0 ON sv.sub = cb0.sub) WHERE rn = 1), " +
      "cb1 AS (SELECT sub, cid, list(cx ORDER BY j) AS c FROM (" +
      "SELECT sub, cid, j, " +
      "CAST(sum(CAST(floor(s[j]*1000000 + 0.5) AS BIGINT)) AS DOUBLE) " +
      "/ (1000000.0 * count(*)) AS cx " +
      s"FROM pa1, generate_series(1, $SubDim) t(j) " +
      "GROUP BY sub, cid, j) GROUP BY sub, cid), " +
      "codes AS (SELECT vec_id, sub, cid FROM (" +
      "SELECT sv.vec_id, sv.sub, cb1.cid, row_number() OVER (" +
      s"PARTITION BY sv.vec_id, sv.sub ORDER BY ${d2Sql("cb1")} ASC, " +
      "cb1.cid ASC) AS rn " +
      "FROM sv JOIN cb1 ON sv.sub = cb1.sub) WHERE rn = 1)"
  }

  /** Per-query lookup-table CTE over a `qv` relation (q_id, v, qn). */
  private def lutCte: String =
    "lut AS (SELECT qv.q_id, cb1.sub, cb1.cid, qv.qn, " +
      "list_dot_product(list_slice(qv.v, " +
      s"(cb1.sub-1)*$SubDim+1, cb1.sub*$SubDim), cb1.c) AS dp, " +
      "list_dot_product(cb1.c, cb1.c) AS nc2 FROM qv, cb1)"

  /** DuckDB mirror of the whole pipeline — per-subspace seed + Lloyd +
    * assignment CTEs, then the ADC probe with the same decimal-grid
    * sums. */
  def oracleSql(maxQueryId: Int, topK: Int): String =
    "WITH e AS (SELECT vec_id, " +
      s"${CosSim.canonSql(CosSim.EmbDim)} AS v FROM embeddings), " +
      s"$pqCtes, " +
      "qv AS (SELECT vec_id AS q_id, v, " +
      "sqrt(list_dot_product(v, v)) AS qn FROM e " +
      s"WHERE vec_id < $maxQueryId), " +
      s"$lutCte, " +
      "p AS (SELECT l.q_id, c.vec_id, " +
      s"${Det.exactSumSql("l.dp", 6)} AS dt, " +
      s"${Det.exactSumSql("l.nc2", 6)} AS n2, max(l.qn) AS qn, " +
      "max(sqrt(list_dot_product(ce.v, ce.v))) AS cnrm " +
      "FROM codes c JOIN lut l ON c.sub = l.sub AND c.cid = l.cid " +
      "JOIN e ce ON ce.vec_id = c.vec_id " +
      "WHERE c.vec_id <> l.q_id GROUP BY l.q_id, c.vec_id) " +
      "SELECT q_id, vec_id, sim FROM (SELECT q_id, vec_id, " +
      s"$guardedSim AS sim, " +
      "row_number() OVER (PARTITION BY q_id ORDER BY " +
      s"$guardedSim DESC, vec_id) " +
      s"AS rn FROM p) WHERE rn <= $topK"

  /** DuckDB mirror of the IVF-PQ probe: the stored coarse quantizer's
    * cells (quantizerCtes) pick each query's candidate set, the PQ
    * codes (pqCtes) ADC-score it — both pipelines in one WITH, names
    * disjoint by construction. */
  def oracleSqlIvfPq(ivfK: Int, maxQueryId: Int, topK: Int): String =
    s"WITH ${Ivf.quantizerCtes(ivfK)}, $pqCtes, " +
      "qv AS (SELECT vec_id AS q_id, v, cell, " +
      "sqrt(list_dot_product(v, v)) AS qn FROM cells " +
      s"WHERE vec_id < $maxQueryId), " +
      "cnd AS (SELECT qv.q_id, c.vec_id FROM cells c JOIN qv " +
      "ON c.cell = qv.cell AND c.vec_id <> qv.q_id), " +
      s"$lutCte, " +
      "p AS (SELECT cnd.q_id, c.vec_id, " +
      s"${Det.exactSumSql("l.dp", 6)} AS dt, " +
      s"${Det.exactSumSql("l.nc2", 6)} AS n2, max(l.qn) AS qn, " +
      "max(sqrt(list_dot_product(ce.v, ce.v))) AS cnrm " +
      "FROM codes c JOIN cnd ON cnd.vec_id = c.vec_id " +
      "JOIN lut l ON l.q_id = cnd.q_id AND c.sub = l.sub " +
      "AND c.cid = l.cid " +
      "JOIN e ce ON ce.vec_id = c.vec_id " +
      "GROUP BY cnd.q_id, c.vec_id) " +
      "SELECT q_id, vec_id, sim FROM (SELECT q_id, vec_id, " +
      s"$guardedSim AS sim, " +
      "row_number() OVER (PARTITION BY q_id ORDER BY " +
      s"$guardedSim DESC, vec_id) " +
      s"AS rn FROM p) WHERE rn <= $topK"

  // stored-norm sentinel guard around the ADC cosine (see toCodeRows)
  private def guardedSim: String =
    "CASE WHEN cnrm > 0 THEN " +
      CosSim.sentinelSql("dt", "sqrt(n2)", "qn") +
      " ELSE CAST(-1 AS DOUBLE) END"
}

/** STORED binary-quantization index — the bottom rung of the vector
  * compression ladder (fp64 512 B → int8 SQ 64 B → PQ 8 codes → BQ
  * dim/8 B): each vector collapses to its per-coordinate SIGN BITS,
  * packed into ⌈dim/64⌉ BIGINT words (`sig` — ONE word at this
  * corpus's dim 64; r13 lifted the single-word pin so a 768- or
  * 4096-dim production corpus packs to 12/64 words with the same
  * machinery, WideDimSpec-gated). Candidate generation is then a
  * popcount scan — Hamming(a, b) = Σ_w bit_count(a[w] XOR b[w]), one
  * codegen'd integer op per 64 coordinates (graft_hamming) against 64
  * multiply-adds for a float dot — and the scan reads dim/8
  * bytes/vector, which is what keeps a 100 TB corpus's first-pass
  * scoring in memory/SIMD territory (the "binary quantization with
  * rescoring" shape production vector stores ship). Hamming only
  * RANKS; the top-C survivors per query are rescored EXACTLY through
  * the stored [[AnnIndex]] payload table (v, nrm) before the final
  * top-k cut, so the emitted similarities are true sentinel cosines.
  * Everything is integer until the rerank — sign bits, XOR, popcount —
  * so the DuckDB mirror (which compares signs positionally instead of
  * packing words) produces the same Hamming numbers bit-for-bit and
  * the driver's hash gate proves the quantization itself, not just the
  * rerank.
  *
  * A sign bit depends only on the vector's own coordinates, so rows
  * are doc-local: [[append]] is trivially exact (append-grown ≡
  * from-scratch, AnnIndexSpec-gated) and there is nothing to retrain —
  * the property that makes BQ the cheapest index to MAINTAIN as well
  * as to scan. NULL embeddings canonicalize to the zero vector
  * ([[CosSim.canon]]) whose signature is all-zero words (no coordinate
  * is > 0) on both engines; their rerank cosine is the library-wide -1
  * sentinel.
  *
  * Table: `<t>` = (vec_id, sig array<bigint>) bucketed on vec_id, with
  * the build dim pinned in `<t>_cfg` (TextOps.ensureIndexConfig): a
  * mixed-width append would produce different word counts, whose
  * Hamming is NULL — candidates silently vanishing — so it must fail
  * loudly at the ingest site instead.
  */
object BqIndex {
  import org.apache.spark.sql.{Column, DataFrame, SparkSession}
  import graft.operators.{TextOps => TO}

  /** Rerank depth: Hamming keeps the top C per query, exact cosine
    * re-orders those C and cuts to k. */
  val C = 20

  /** Multi-word sign-bit packing of canon vector `v` (bit p of word w
    * set ⟺ v[64w + p] > 0) via the native codegen
    * [[graft.functions.SignPackWords]] expression. Word 0 at dim ≤ 64
    * equals the single-word [[graft.functions.SignPack]] BIGINT
    * exactly (bit 63 wraps to the word's sign bit, which XOR/popcount
    * treat as just another bit) — parity gated in AnnIndexSpec. */
  private[graft] val sigExpr = "graft_sign_pack_words(v)"

  /** The composable-form twin of the single-word packing, asserted
    * equal to graft_sign_pack AND to word 0 of [[sigExpr]] in
    * AnnIndexSpec (never used on the hot path). */
  private[graft] val sigFoldExpr =
    "aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, p) -> " +
      "acc | (CASE WHEN element_at(v, p + 1) > CAST(0 AS DOUBLE) " +
      "THEN shiftleft(CAST(1 AS BIGINT), p) ELSE CAST(0 AS BIGINT) " +
      "END))"

  /** Build the signature table from scratch. Rescoring vectors live in
    * the [[AnnIndex]] payload table — BQ stores ONLY the dim/8-byte
    * signatures. A rebuild may change dim, so the config row resets
    * with the table. */
  def write(emb: DataFrame, table: String, dim: Int = CosSim.EmbDim,
      nBuckets: Int = 8): Unit = TO.withBuildLock(emb.sparkSession) {
    val s = emb.sparkSession
    s.sql(s"DROP TABLE IF EXISTS $table")
    s.sql(s"DROP TABLE IF EXISTS ${table}_cfg")
    TO.clearOrphanLocation(s, table)
    // rebuilt rows ride at the top surviving finite barrier, not
    // gen 0 (TextOps.rebuildGen — ADVICE r14)
    append(emb, table, dim, nBuckets,
      gen = TO.rebuildGen(s, table + "_del"))
  }

  /** APPEND-ONLY maintenance: signatures are doc-local (no corpus
    * statistics, no codebook), so growing the table batch by batch is
    * exactly a from-scratch build over the union — nothing rewritten,
    * nothing retrained, O(batch) per ingest. The first append pins dim
    * in `<table>_cfg`; later appends must match it. */
  def append(emb: DataFrame, table: String, dim: Int = CosSim.EmbDim,
      nBuckets: Int = 8, gen: Long = 0L): Unit =
    // build-lock scope: the AnnIndex.append rationale (append vs
    // maintenance-swap file-listing race)
    TO.withBuildLock(emb.sparkSession) {
    val s = emb.sparkSession
    TO.ensureIndexConfig(s, table, Seq("dim" -> dim))
    TO.clearOrphanLocation(s, table)
    Ann.prepStrict(TO.exceptHeld(emb, s, table + "_hold",
        "vec_id"), dim)
      .select(col("vec_id"), expr(sigExpr).as("sig"),
        lit(gen).as("gen"))
      .write.mode("append").bucketBy(nBuckets, "vec_id").sortBy("vec_id")
      .saveAsTable(table)
  }

  /** UPSERT vectors — the [[AnnIndex.upsert]] contract for the BQ
    * signature family (stateless doc-local signatures: barrier +
    * re-sign + append, one build-lock scope, O(batch)).
    */
  def upsert(emb: DataFrame, table: String, dim: Int = CosSim.EmbDim,
      nBuckets: Int = 8): Unit =
    TO.withBuildLock(emb.sparkSession) {
      val s = emb.sparkSession
      val g = TO.nextGen(s, table + "_del")
      TO.tombstone(s, table + "_del", emb.select(col("vec_id")),
        "vec_id", gen = g)
      append(emb, table, dim, nBuckets, gen = g)
    }

  /** The BQ family's lifecycle ([[IndexFamily]]): the signature
    * member, the `_cfg` dim pin as sidecar. Every live signature must
    * pack exactly ⌈dim/64⌉ words; signatures cannot be recomputed
    * without the original vectors and a lost pin cannot be guessed, so
    * repair heals only the shared classes. */
  def family(table: String): IndexFamily = new IndexFamily(table,
    members = Seq(table), idCol = "vec_id", callerIdCol = "vec_id",
    sidecar = Some("config pin" -> (table + "_cfg")),
    cfgOf = TO.readIndexConfig(_, table).getOrElse(Map.empty),
    invariant = (s, live) => {
      val words = (TO.readIndexConfig(s, table).get("dim") + 63) / 64
      val bad = live(table).filter(size(col("sig")) =!= words).count()
      if (bad > 0) Seq(s"$bad signatures do not pack $words words")
      else Nil
    })

  /** Hamming-prefiltered exact-reranked top-k. Phase 1 scans the
    * dim/8-byte signatures against the broadcast query signatures —
    * the per-candidate work is one xor+popcount per 64 coordinates
    * (graft_hamming), and only (q_id, vec_id, ham) int triples travel
    * into the top-C cut, never vectors.
    * Phase 2 fetches the C survivors' full vectors from the stored
    * payload table `vecTable` (bucketed on vec_id) and ranks true
    * sentinel cosines. Queries come off the stored tables too, so the
    * probe plan reads nothing but stored indexes (PlanSpec-gated). */
  def topK(s: SparkSession, table: String, vecTable: String,
      isQuery: Column => Column, k: Int, c: Int = C): DataFrame = {
    // tombstone-filter the SIGNATURE side only: queries and candidates
    // both come off it, so a deleted id can neither ask nor answer —
    // the payload join on surviving candidates can't resurrect one
    val sigs = TO.exceptTombstones(s.table(table), s,
      table + "_del", "vec_id")
    val q = sigs.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("sig").as("q_sig"))
    val wh = Window.partitionBy("q_id")
      .orderBy(col("ham").asc, col("vec_id").asc)
    val cand = sigs.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("ham", expr("graft_hamming(sig, q_sig)"))
      .withColumn("hrn", row_number().over(wh))
      .filter(col("hrn") <= c)
      .select("q_id", "vec_id", "ham")
    val vecs = s.table(vecTable)
    val qv = vecs.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val sim = CosSim.sentinel(expr("graft_dot(v, qv)"),
      col("nrm"), col("qn"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    cand.join(vecs, "vec_id").join(broadcast(qv), "q_id")
      .withColumn("sim", sim)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"), col("ham").cast("int").as("ham"),
        col("sim"))
  }

  /** EXTERNAL-QUERY Hamming serving — the [[AnnIndex.scoreExternal]]
    * shape for the BQ index: `queries` is (q_id, embedding) in its
    * own namespace (no self-exclusion). Arriving vectors canonicalize
    * at the STORED `_cfg` width (parameter fallback for pre-pin
    * indexes), collapse to packed sign words, Hamming-scan the stored
    * signatures to the top-C, and rerank the survivors' exact vectors
    * (payload from `vecTable`) against the query's own exact vector —
    * which rides the probe, so only the candidate side fetches
    * payload.
    */
  def scoreExternal(queries: DataFrame, s: SparkSession, table: String,
      vecTable: String, k: Int, c: Int = C,
      dim: Int = CosSim.EmbDim): DataFrame = {
    val dm = TO.readIndexConfig(s, table).map(_("dim")).getOrElse(dim)
    val sigs = TO.exceptTombstones(s.table(table), s,
      table + "_del", "vec_id")
    scoreExternalFrames(queries, sigs, s.table(vecTable), dm, k, c)
  }

  /** [[scoreExternal]] AS OF a `<tag>` manifest snapshot WITHOUT
    * restoring anything: signatures and tombstones from
    * [[graft.operators.TextOps.readSnapshot]]'s file-pinned frames,
    * the packing width from the snapshot's own `_cfg` meta copy. The
    * exact-rerank PAYLOAD lives in another family (the live probes
    * pass a `vecTable` — conventionally the banded-ANN family's
    * `_vec`), so the as-of caller supplies it as a frame pinned to
    * the SAME cadence tag, e.g.
    * `TextOps.readSnapshot(s, annTable, tag, "_vec")` — the audit
    * composes the two families' snapshots explicitly rather than
    * this verb guessing whose past to read. One scoring definition
    * ([[scoreExternalFrames]]) with the live path. */
  def scoreAsOf(queries: DataFrame, s: SparkSession, table: String,
      tag: String, vecs: DataFrame, k: Int, c: Int = C,
      dim: Int = CosSim.EmbDim): DataFrame = {
    val mf = s"${table}_mf_$tag"
    require(s.catalog.tableExists(mf), s"scoreAsOf: no manifest $mf")
    val manifest = TO.readManifest(s, mf)
    val dm =
      if (s.catalog.tableExists(s"${table}_cfg_bak_mf$tag")) {
        val row = TO.readSnapshot(s, table, tag, "_cfg").collect()(0)
        row.getAs[Int]("dim")
      } else dim
    val del =
      if (manifest.contains(table + "_del"))
        Some(TO.readSnapshot(s, table, tag, "_del"))
      else None
    val sigs = TO.exceptTombstonesFrame(
      TO.readSnapshot(s, table, tag), del, "vec_id")
    scoreExternalFrames(queries, sigs, vecs, dm, k, c)
  }

  /** The ONE external-query Hamming pipeline behind the live and
    * as-of probes (`sigs`/`vecs` = live tables minus tombstones, or a
    * snapshot's file-pinned frames). */
  private def scoreExternalFrames(queries: DataFrame, sigs: DataFrame,
      vecs: DataFrame, dm: Int, k: Int, c: Int): DataFrame = {
    val q = Ann.prepExternal(queries, dm)
      .withColumn("q_sig", expr("graft_sign_pack_words(qv)"))
    // phase 1 keeps the member-topK contract: only (q_id, vec_id, ham)
    // int triples travel into the top-C cut — the query VECTORS rejoin
    // from the broadcast side after the cut (review r13: carrying qv
    // through the corpus-wide window was a ~25× data-volume blowup in
    // exactly the scan this index keeps integer-cheap)
    val wh = Window.partitionBy("q_id")
      .orderBy(col("ham").asc, col("vec_id").asc)
    val cand = sigs.crossJoin(broadcast(q.select("q_id", "q_sig")))
      .withColumn("ham", expr("graft_hamming(sig, q_sig)"))
      .select("q_id", "vec_id", "ham")
      .withColumn("hrn", row_number().over(wh))
      .filter(col("hrn") <= c)
      .select("q_id", "vec_id", "ham")
    // candidates derive from the filtered sigs, so the payload join
    // cannot resurrect a deleted id — the payload frame rides in
    // unfiltered (the member topK rationale)
    val sim = CosSim.sentinel(expr("graft_dot(v, qv)"),
      col("nrm"), col("qn"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    cand.join(vecs, "vec_id")
      .join(broadcast(q.select("q_id", "qv", "qn")), "q_id")
      .withColumn("sim", sim)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("vec_id"),
        col("ham").cast("int").as("ham"), col("sim"))
  }

  /** Memoized stored signature table for `sfDir`'s embeddings — the
    * [[AnnIndex.annIndex]] contract (catalog memo, `_ok` marker,
    * sweep, shared build lock), with a schema-evolution guard: an
    * index left by the pre-r13 single-BIGINT layout rebuilds rather
    * than failing graft_hamming's type check at probe time. */
  def bqIndex(s: SparkSession, sfDir: String): String =
    TO.memoIndex(s, "graft_bq_idx", sfDir, Seq("_cfg"),
      complete = t => s.table(t).schema("sig").dataType
        .isInstanceOf[org.apache.spark.sql.types.ArrayType]) { t =>
      write(Tables(s, sfDir, "embeddings"), t)
    }

  /** DuckDB mirror: positional sign comparison instead of packed
    * words — CASE-per-position mismatch counts are the same integers
    * bit_count(xor) produces, so `ham` hash-matches exactly. */
  def oracleSql(maxQueryId: Int, topK: Int, c: Int = C): String =
    s"WITH e AS (SELECT vec_id, ${CosSim.canonSql(CosSim.EmbDim)} AS v " +
      "FROM embeddings), " +
      "h AS (SELECT q.vec_id AS q_id, c.vec_id AS vec_id, " +
      "CAST(list_sum(list_transform(range(1, 65), p -> " +
      "CASE WHEN (c.v[p] > 0) <> (q.v[p] > 0) THEN 1 ELSE 0 END)) " +
      "AS INT) AS ham " +
      s"FROM e c, e q WHERE q.vec_id < $maxQueryId " +
      "AND c.vec_id <> q.vec_id), " +
      "cand AS (SELECT q_id, vec_id, ham FROM (SELECT *, " +
      "row_number() OVER (PARTITION BY q_id ORDER BY ham, vec_id) " +
      s"AS hrn FROM h) WHERE hrn <= $c), " +
      "p AS (SELECT cand.q_id, cand.vec_id, cand.ham, " +
      CosSim.sentinelSql("list_dot_product(c.v, q.v)",
        "sqrt(list_dot_product(c.v, c.v))",
        "sqrt(list_dot_product(q.v, q.v))") + " AS sim " +
      "FROM cand JOIN e c ON cand.vec_id = c.vec_id " +
      "JOIN e q ON cand.q_id = q.vec_id) " +
      "SELECT q_id, vec_id, ham, sim FROM (SELECT *, " +
      "row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) " +
      s"AS rn FROM p) WHERE rn <= $topK"
}

/** STORED int8 scalar-quantization index (VERDICT r12 #2 — the last
  * retrieval leg that re-derived its representation per run): each
  * vector is symmetrically quantized with a PER-VECTOR scale
  * (sc = max|v_i| / 127, code_i = floor(v_i/sc + 0.5)) and stored as
  * `array<tinyint>` codes + one double — the 4× payload shrink against
  * float32 (8× against this corpus's stored doubles) that every 100 TB
  * vector deployment's middle compression rung buys. The scale is
  * DOC-LOCAL (no corpus statistics, no codebook — unlike PQ there is
  * nothing to train), so [[append]] is exact by construction
  * (append-grown ≡ from-scratch, the BqIndex property) and ingest is
  * O(batch) with nothing rewritten.
  *
  * Probes reconstruct the dequantized vector as `code * sc` — the
  * identical IEEE doubles the inline quantize-transform produced
  * (floor(x/sc+0.5) is integral and within tinyint range, so the
  * store/load roundtrip changes nothing) — and score the rounded
  * sentinel cosine over reconstructions, which keeps q_sq8's oracle
  * (which mirrors the arithmetic from the raw embeddings) unchanged.
  *
  * Table: `<t>` = (vec_id, sc, codes array<tinyint>) bucketed on
  * vec_id. Dim-generic by construction: codes are whatever length the
  * canon vector is, so the same machinery serves 64- and 768-wide
  * corpora (WideDimSpec).
  */
object SqIndex {
  import org.apache.spark.sql.{Column, DataFrame, SparkSession}
  import graft.operators.{TextOps => TO}

  /** code_i = floor(v_i/sc + 0.5) ∈ [-127, 127] (0 when sc = 0, the
    * zero-vector/NULL canon case) — integral doubles cast exactly to
    * tinyint. */
  private val codesExpr =
    "transform(v, x -> CASE WHEN sc = CAST(0 AS DOUBLE) " +
      "THEN CAST(0 AS TINYINT) " +
      "ELSE CAST(floor(x / sc + 0.5) AS TINYINT) END)"

  /** Dequantized reconstruction — CAST(code) * sc multiplies the same
    * integral double the inline form's floor(...) produced by the same
    * sc, so reconstructed coordinates are bit-identical to quantizing
    * in-flight. */
  private val vqExpr = "transform(codes, c -> CAST(c AS DOUBLE) * sc)"

  def write(emb: DataFrame, table: String, dim: Int = CosSim.EmbDim,
      nBuckets: Int = 8): Unit = TO.withBuildLock(emb.sparkSession) {
    val s = emb.sparkSession
    s.sql(s"DROP TABLE IF EXISTS $table")
    // a rebuild may change dim — the config row resets with the table
    s.sql(s"DROP TABLE IF EXISTS ${table}_cfg")
    TO.clearOrphanLocation(s, table)
    // rebuilt rows ride at the top surviving finite barrier, not
    // gen 0 (TextOps.rebuildGen — ADVICE r14)
    append(emb, table, dim, nBuckets,
      gen = TO.rebuildGen(s, table + "_del"))
  }

  /** APPEND-ONLY maintenance: the per-vector scale depends only on the
    * vector's own coordinates, so growing batch by batch equals a
    * from-scratch build over the union — nothing rewritten, nothing
    * retrained (gated in AnnIndexSpec). The first append pins dim in
    * `<table>_cfg`; later appends must match it — mixed-width codes
    * would reconstruct to different-length vectors whose cross-width
    * dot is NULL, silently vanishing candidates from [[topK]]. */
  def append(emb: DataFrame, table: String, dim: Int = CosSim.EmbDim,
      nBuckets: Int = 8, gen: Long = 0L): Unit =
    // build-lock scope: the AnnIndex.append rationale (append vs
    // maintenance-swap file-listing race)
    TO.withBuildLock(emb.sparkSession) {
    val s = emb.sparkSession
    TO.ensureIndexConfig(s, table, Seq("dim" -> dim))
    TO.clearOrphanLocation(s, table)
    // ingest-side width enforcement — the canonChecked contract;
    // legal holds gate the ingest door (r15)
    TO.exceptHeld(emb, s, table + "_hold", "vec_id")
      .select(col("vec_id"),
        CosSim.canonChecked(col("embedding"), dim).as("v"))
      .withColumn("sc",
        expr("array_max(transform(v, x -> abs(x)))") / lit(127.0))
      .select(col("vec_id"), col("sc"), expr(codesExpr).as("codes"),
        lit(gen).as("gen"))
      .write.mode("append").bucketBy(nBuckets, "vec_id").sortBy("vec_id")
      .saveAsTable(table)
  }

  /** UPSERT vectors — the [[AnnIndex.upsert]] contract for the SQ8
    * codes family (stateless per-vector scales: barrier + re-quantize
    * + append, one build-lock scope, O(batch)).
    */
  def upsert(emb: DataFrame, table: String, dim: Int = CosSim.EmbDim,
      nBuckets: Int = 8): Unit =
    TO.withBuildLock(emb.sparkSession) {
      val s = emb.sparkSession
      val g = TO.nextGen(s, table + "_del")
      TO.tombstone(s, table + "_del", emb.select(col("vec_id")),
        "vec_id", gen = g)
      append(emb, table, dim, nBuckets, gen = g)
    }

  /** The SQ8 family's lifecycle ([[IndexFamily]]): the codes member,
    * the `_cfg` dim pin as sidecar. Every live code row must carry
    * exactly the pinned dim codes and a non-negative scale; codes
    * cannot be recomputed without the original vectors, and a lost pin
    * or a negative scale cannot be fixed by guesswork, so repair heals
    * only the shared classes. */
  def family(table: String): IndexFamily = new IndexFamily(table,
    members = Seq(table), idCol = "vec_id", callerIdCol = "vec_id",
    sidecar = Some("config pin" -> (table + "_cfg")),
    cfgOf = TO.readIndexConfig(_, table).getOrElse(Map.empty),
    invariant = (s, live) => {
      val dim = TO.readIndexConfig(s, table).get("dim")
      val rows = live(table)
      val bad = rows.filter(size(col("codes")) =!= dim).count()
      val badSc = rows.filter(col("sc") < 0d).count()
      (if (bad > 0) Seq(s"$bad code rows are not dim $dim") else Nil) ++
        (if (badSc > 0) Seq(s"$badSc rows carry a negative scale")
         else Nil)
    })

  /** Brute top-k over DEQUANTIZED vectors served entirely from the
    * stored codes table — queries come off the same table by vec_id
    * filter, so the probe plan reads nothing but the stored index
    * (PlanSpec-gated). Semantics identical to quantizing in-flight:
    * same reconstruction doubles, same rounded sentinel cosine, same
    * tiebreaks. */
  def topK(s: SparkSession, table: String, isQuery: Column => Column,
      k: Int): DataFrame = {
    val e = TO.exceptTombstones(s.table(table), s,
        table + "_del", "vec_id")
      .withColumn("vq", expr(vqExpr))
      .withColumn("nrm", expr("sqrt(graft_dot(vq, vq))"))
    val q = e.filter(isQuery(col("vec_id")))
      .select(col("vec_id").as("q_id"), col("vq").as("qv"),
        col("nrm").as("qn"))
    val sim = CosSim.sentinel(expr("graft_dot(vq, qv)"),
      col("nrm"), col("qn"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim", sim)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("q_id", "vec_id", "sim")
  }

  /** EXTERNAL-QUERY serving for the SQ8 index: `queries` is (q_id,
    * embedding) in its own namespace (no self-exclusion); the query's
    * EXACT vector (canonicalized at the stored `_cfg` width) scores
    * against the DEQUANTIZED stored codes. Candidate reconstruction
    * is identical to the member probe's; the QUERY side is exact
    * rather than quantized (the member probe reads its query off the
    * codes table), so external sims carry no query-side quantization
    * loss — neighbor sets agree, scores differ at the quantization
    * error scale (gated in ExternalProbeSpec).
    */
  def scoreExternal(queries: DataFrame, s: SparkSession, table: String,
      k: Int, dim: Int = CosSim.EmbDim): DataFrame = {
    val dm = TO.readIndexConfig(s, table).map(_("dim")).getOrElse(dim)
    val codes = TO.exceptTombstones(s.table(table), s,
      table + "_del", "vec_id")
    scoreExternalFrames(queries, codes, dm, k)
  }

  /** [[scoreExternal]] AS OF a `<tag>` manifest snapshot WITHOUT
    * restoring anything: codes and tombstones from
    * [[graft.operators.TextOps.readSnapshot]]'s file-pinned frames,
    * the width from the snapshot's own `_cfg` meta copy. One scoring
    * definition ([[scoreExternalFrames]]) with the live path. Audit
    * path, not the serving path. */
  def scoreAsOf(queries: DataFrame, s: SparkSession, table: String,
      tag: String, k: Int, dim: Int = CosSim.EmbDim): DataFrame = {
    val mf = s"${table}_mf_$tag"
    require(s.catalog.tableExists(mf), s"scoreAsOf: no manifest $mf")
    val manifest = TO.readManifest(s, mf)
    val dm =
      if (s.catalog.tableExists(s"${table}_cfg_bak_mf$tag")) {
        val row = TO.readSnapshot(s, table, tag, "_cfg").collect()(0)
        row.getAs[Int]("dim")
      } else dim
    val del =
      if (manifest.contains(table + "_del"))
        Some(TO.readSnapshot(s, table, tag, "_del"))
      else None
    val codes = TO.exceptTombstonesFrame(
      TO.readSnapshot(s, table, tag), del, "vec_id")
    scoreExternalFrames(queries, codes, dm, k)
  }

  /** The ONE external-query dequantized scan behind the live and
    * as-of probes. */
  private def scoreExternalFrames(queries: DataFrame, codes: DataFrame,
      dm: Int, k: Int): DataFrame = {
    val e = codes
      .withColumn("vq", expr(vqExpr))
      .withColumn("nrm", expr("sqrt(graft_dot(vq, vq))"))
    val q = Ann.prepExternal(queries, dm)
    val sim = CosSim.sentinel(expr("graft_dot(vq, qv)"),
      col("nrm"), col("qn"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    e.crossJoin(broadcast(q))
      .withColumn("sim", sim)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select("q_id", "vec_id", "sim")
  }

  /** Memoized stored codes table for `sfDir`'s embeddings — the
    * [[BqIndex.bqIndex]] contract (catalog memo, `_ok` marker, sweep,
    * shared build lock). */
  def sqIndex(s: SparkSession, sfDir: String): String =
    TO.memoIndex(s, "graft_sq_idx", sfDir, Seq("_cfg")) { t =>
      write(Tables(s, sfDir, "embeddings"), t)
    }
}

object Similarity {

  // graft_dot is the custom codegen DotProduct expression
  // (graft.functions.DotProduct) — same left-to-right accumulation as the
  // aggregate/zip_with fold and DuckDB's loop, minus the per-row zipped
  // array allocation.
  private val dotAB = "graft_dot(v, qv)"
  private val norm = "sqrt(graft_dot(v, v))"

  /** SemDeDup's expected cell size: the quantizer behind q_semdd uses
    * k = max(8, ⌈n / SddCellSize⌉) cells so that within-cell pair cost
    * Σ|cell|² stays LINEAR in the corpus — the published SemDeDup
    * practice (Abbas et al. use ~100k clusters at web scale; cluster
    * count is an explicit hyper-parameter that must grow with the
    * corpus, or the pair pass degrades quadratically — measured here:
    * a fixed k=8 quantizer put the sf1/sf0.1 ratio at 30×). At the
    * oracle's sf0.01 scale (500 vectors) the formula gives exactly
    * IvfIndex.K = 8 (⌈500/64⌉ = 8), so the q_semdd oracle — which
    * mirrors the k=8 training deterministically — is unchanged; the
    * k-scaling spec in AnnIndexSpec pins the formula and that the
    * scaling engages on a larger synthetic corpus.
    */
  val SddCellSize = 64

  private[graft] def sddK(n: Long): Int =
    math.max(IvfIndex.K, ((n + SddCellSize - 1) / SddCellSize).toInt)

  /** Memoized SemDeDup quantizer for `sfDir`'s embeddings — the
    * ivfIndex contract (catalog memo, `_ok` marker, sweep, shared
    * lock), but with corpus-scaled k. Kept SEPARATE from the shared
    * probe quantizer (graft_ivf_idx): q_simsearch_ivf/q_ivfpq/q_ivfmp
    * mirror a fixed k=8 training in their oracles, while dedup needs
    * k to track the corpus.
    */
  private def semDedupIndex(s: org.apache.spark.sql.SparkSession,
      sfDir: String): String =
    graft.operators.TextOps.memoIndex(s, "graft_sdd_idx", sfDir,
      Seq("_cent")) { t =>
      val emb = Tables(s, sfDir, "embeddings")
      IvfIndex.write(emb, t, k = sddK(emb.count()))
    }

  /** The e/cand/p CTE bodies (no WITH keyword) of the banded-ANN
    * DuckDB mirror — reproduces the deterministic planes and the 8-way
    * band-collision union, ending in `p` = scored candidate pairs.
    * Factored so the hybrid-retrieval oracle can splice these CTEs
    * into its own WITH list.
    */
  private def bandedCtes(maxQueryId: Int): String = {
    // keep in lockstep with Ann.planeVec — same integer family under
    // the SAME derived modulus (8 bands × 2 bits over the testdata
    // width); the offset m/2 is integer division, computed here so
    // both engines use the identical literal
    val m = Ann.planeModulus(16, CosSim.EmbDim)
    def plane(p: Int) =
      s"[CAST(((1 + $p * 37 + i * 61 + $p * i * 11) % $m) - ${m / 2} " +
        s"AS DOUBLE) for i in generate_series(0, ${CosSim.EmbDim - 1})]"
    def bit(p: Int) =
      s"CASE WHEN list_dot_product(v, ${plane(p)}) >= 0 " +
        "THEN '1' ELSE '0' END"
    def band(b: Int) =
      (1 to 2).map(j => bit((b - 1) * 2 + j)).mkString(" || ")
    val bandCols = (1 to 8).map(b => s"(${band(b)}) AS band$b")
      .mkString(", ")
    val unions = (1 to 8).map(b =>
      s"SELECT q.vec_id AS q_id, c.vec_id AS vec_id FROM e c JOIN e q " +
        s"ON c.band$b = q.band$b AND q.vec_id < $maxQueryId " +
        "AND c.vec_id <> q.vec_id").mkString(" UNION ")
    // label rides in e for the filtered-probe oracle; the other
    // consumers ignore it
    s"e AS (SELECT vec_id, label, ${CosSim.canonSql(CosSim.EmbDim)} AS v, " +
      s"$bandCols FROM embeddings), " +
      s"cand AS ($unions), " +
      "p AS (SELECT cand.q_id, cand.vec_id, " +
      s"${CosSim.sentinelSql("list_dot_product(c.v, q.v)",
        "sqrt(list_dot_product(c.v, c.v))",
        "sqrt(list_dot_product(q.v, q.v))")} AS sim " +
      "FROM cand JOIN e c ON cand.vec_id = c.vec_id " +
      "JOIN e q ON cand.q_id = q.vec_id)"
  }

  /** DuckDB mirror of Ann.topK(8 bands × 2 bits) — shared by the
    * banded-ANN and RAG-retrieval oracles. */
  private def bandedOracleSql(maxQueryId: Int, k: Int): String =
    s"WITH ${bandedCtes(maxQueryId)} " +
      "SELECT q_id, vec_id, sim FROM (SELECT *, row_number() OVER (" +
      "PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM p) " +
      s"WHERE rn <= $k"

  val defs: Seq[QDef] = Seq(

    // X3: brute-force top-5 cosine neighbors for query vectors vec_id<10.
    QDef("q_simsearch",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
          .select(col("vec_id"), CosSim.canon(col("embedding"), CosSim.EmbDim).as("v"))
          .withColumn("nrm", expr(norm))
          .persist() // norms computed once, reused by query + candidate side
        val q = e.select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn")).filter(col("q_id") < 10)
        val sim = CosSim.sentinel(expr(dotAB), col("nrm"), col("qn"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("sim").desc, col("vec_id").asc)
        e.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("sim", sim)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select("q_id", "vec_id", "sim")
      },
      Some(s"WITH e AS (SELECT vec_id, ${CosSim.canonSql(CosSim.EmbDim)} AS v " +
        "FROM embeddings), " +
        "p AS (SELECT q.vec_id AS q_id, c.vec_id AS vec_id, " +
        s"${CosSim.sentinelSql("list_dot_product(c.v, q.v)",
          "sqrt(list_dot_product(c.v, c.v))",
          "sqrt(list_dot_product(q.v, q.v))")} AS sim " +
        "FROM e c, e q WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id) " +
        "SELECT q_id, vec_id, sim FROM (SELECT *, row_number() OVER (" +
        "PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM p) " +
        "WHERE rn <= 5")),

    // X3: LSH-bucketed ANN — 4 random-hyperplane sign bits (deterministic
    // integer-weight planes, identical in both engines) bucket the corpus;
    // each query searches only its own bucket. This is the 100 TB scale
    // path: per-bucket cost instead of a full scan per query, same
    // equi-join shape as any LSH blocking. Recall is approximate by
    // construction (bucket-boundary neighbors are missed).
    QDef("q_simsearch_lsh",
      (s, d) => {
        // driver-computed literal planes — the transform(sequence(...))
        // form would rebuild each plane per row, interpreted
        def planeVec(p: Int) =
          (0 until 64).map(i => ((31 * p + 17 * i) % 7 - 3).toDouble)
        def bit(p: Int) =
          when(call_function("graft_dot", col("v"),
            typedlit(planeVec(p))) >= 0d, "1").otherwise("0")
        val bucket = concat((1 to 4).map(bit): _*)
        val e = Tables(s, d, "embeddings")
          .select(col("vec_id"), CosSim.canon(col("embedding"), CosSim.EmbDim).as("v"))
          .withColumn("nrm", expr(norm))
          .withColumn("bucket", bucket)
          .persist()
        val q = e.select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"), col("bucket").as("q_bucket"))
          .filter(col("q_id") < 10)
        val sim = CosSim.sentinel(expr(dotAB), col("nrm"), col("qn"))
        val w = Window.partitionBy("q_id")
          .orderBy(col("sim").desc, col("vec_id").asc)
        e.join(broadcast(q), col("bucket") === col("q_bucket") &&
            col("vec_id") =!= col("q_id"))
          .withColumn("sim", sim)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("q_id", "vec_id", "bucket", "sim")
      },
      Some {
        def plane(p: Int) =
          s"[CAST((31 * $p + 17 * i) % 7 - 3 AS DOUBLE) " +
            "for i in generate_series(0, 63)]"
        def bit(p: Int) =
          s"CASE WHEN list_dot_product(v, ${plane(p)}) >= 0 " +
            "THEN '1' ELSE '0' END"
        val bucket = (1 to 4).map(bit).mkString(" || ")
        s"WITH e AS (SELECT vec_id, ${CosSim.canonSql(CosSim.EmbDim)} AS v, " +
          s"$bucket AS bucket FROM embeddings), " +
          "p AS (SELECT q.vec_id AS q_id, c.vec_id AS vec_id, c.bucket, " +
          s"${CosSim.sentinelSql("list_dot_product(c.v, q.v)",
            "sqrt(list_dot_product(c.v, c.v))",
            "sqrt(list_dot_product(q.v, q.v))")} AS sim " +
          "FROM e c JOIN e q ON c.bucket = q.bucket " +
          "AND q.vec_id < 10 AND c.vec_id <> q.vec_id) " +
          "SELECT q_id, vec_id, bucket, sim FROM (SELECT *, " +
          "row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) " +
          "AS rn FROM p) WHERE rn <= 3"
      }),

    // X3: AND-OR banded LSH ANN — 8 bands × 2 bits, candidates =
    // OR-of-band collisions (ids only), exact cosine rescoring on
    // candidates, top-3 per query. STORED-INDEX-BACKED (r12): served
    // from the memoized bucketed band postings + payload tables
    // (AnnIndex), so a retrieval run probes stored buckets instead of
    // re-hashing the corpus — the same maintain-once economics as
    // q_bm25. Semantics identical to the inline Ann.topK (one shared
    // banding definition); recall properties of this config are
    // asserted against brute force in AnnRecallSpec.
    QDef("q_simsearch_banded",
      (s, d) => AnnIndex.topK(s, AnnIndex.annIndex(s, d), _ < 10, k = 3),
      Some(bandedOracleSql(maxQueryId = 10, k = 3))),

    // X3 + RAG retrieval: the banded ANN feeding a document fetch — the
    // retrieve step of a retrieval-augmented pipeline (neighbor ids from
    // the index, text joined back only for the k results per query, so
    // document payloads never travel through the similarity machinery).
    QDef("q_rag_retrieve",
      (s, d) => {
        // same stored index as q_simsearch_banded — one maintained
        // index, every dense-retrieval consumer probes it
        val nn = AnnIndex.topK(s, AnnIndex.annIndex(s, d), _ < 5, k = 3)
        val docs = Tables(s, d, "documents")
          .select(col("doc_id").as("vec_id"),
            substring(col("text"), 1, 40).as("snippet"))
        // broadcast the k·|queries| NEIGHBOR side — the natural BuildRight
        // would broadcast the whole snippet table (every doc's text
        // through one exchange); this way documents streams
        // partition-parallel and only matches surface
        docs.join(broadcast(nn), "vec_id")
          .select("q_id", "vec_id", "sim", "snippet")
      },
      Some("SELECT b.q_id, b.vec_id, b.sim, " +
        "substr(d.text, 1, 40) AS snippet FROM (" +
        bandedOracleSql(maxQueryId = 5, k = 3) +
        ") b JOIN documents d ON b.vec_id = d.doc_id")),

    // X3: IVF ANN — the third leg of the similarity triad (brute force /
    // LSH / IVF). Coarse quantizer = LABEL-FREE deterministic Lloyd's
    // k-means (see Ivf): seed init from the k lowest vec_ids, one Lloyd
    // mean update, per-row argmax assignment over driver-literal
    // centroids. Every vector lands in its nearest centroid's "cell"; a
    // query probes ONLY its own cell, so scan cost is corpus/cells per
    // query — the inverted-file scale path (at 100 TB, k grows toward
    // √n and the quantizer still fits on the driver).
    // STORED-QUANTIZER-BACKED (r12): training (seed collect + Lloyd
    // update + assignment passes) happens ONCE in the memoized IvfIndex
    // build; this query is a pure cell-probe against the bucketed
    // (vec_id, v, nrm, cell) table — at 100 TB the quantizer is
    // maintained at ingest and retrieval never retrains.
    QDef("q_simsearch_ivf",
      (s, d) => IvfIndex.topK(s, IvfIndex.ivfIndex(s, d), _ < 10, k = 3),
      Some(Ivf.oracleSql(k = 8, maxQueryId = 10, topK = 3))),

    // X3: IVF MULTI-PROBE — nprobe=2 over the same stored quantizer:
    // the standard recall lever (a query near a cell boundary rescans
    // the adjacent cell too, catching neighbors the single-cell probe
    // quantized away). Probe cost nprobe/k of the corpus per query;
    // cell ranking reuses the assignment cosine, so probe 1 is always
    // the query's own cell and this strictly extends q_simsearch_ivf's
    // candidate set.
    QDef("q_ivfmp",
      (s, d) => IvfIndex.topKMultiProbe(s, IvfIndex.ivfIndex(s, d),
        _ < 10, k = 3, nprobe = 2),
      Some(Ivf.oracleSqlMultiProbe(k = 8, maxQueryId = 10, topK = 3,
        nprobe = 2))),

    // X3/X4: embedding near-dup pairs, blocked by label (IVF-style coarse
    // partition) — pair cost is per-block, not corpus². May legitimately
    // return few/no rows when no near-dups exist.
    QDef("q_embed_dedup",
      (s, d) => {
        val e = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            CosSim.canon(col("embedding"), CosSim.EmbDim).as("v"))
          .withColumn("nrm", expr(norm))
          .persist() // norms computed once, reused by both pair sides
        val a = e.select(col("vec_id").as("a_id"), col("label"),
          col("v").as("qv"), col("nrm").as("qn"))
        val b = e.select(col("vec_id").as("b_id"),
          col("label").as("b_label"), col("v"), col("nrm"))
        val sim = CosSim.sentinel(expr(dotAB), col("nrm"), col("qn"))
        b.join(a, col("label") === col("b_label") &&
            col("a_id") < col("b_id"))
          .withColumn("sim", sim)
          .filter(col("sim") > 0.4)
          .select("a_id", "b_id", "label", "sim")
      },
      Some("WITH e AS (SELECT vec_id, label, " +
        s"${CosSim.canonSql(CosSim.EmbDim)} AS v FROM embeddings) " +
        "SELECT a_id, b_id, label, sim FROM (" +
        "SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label AS label, " +
        s"${CosSim.sentinelSql("list_dot_product(b.v, a.v)",
          "sqrt(list_dot_product(b.v, b.v))",
          "sqrt(list_dot_product(a.v, a.v))")} AS sim " +
        "FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id) " +
        "WHERE sim > 0.4")),

    // X3/X4: per-label embedding centroids — the cluster summaries a
    // curation pipeline keeps per domain/topic (mixture analysis, drift
    // monitoring, the seed step of any assign-to-nearest pass).
    // Elementwise mean via posexplode → one (label, pos) partial-sum
    // shuffle; the mean is Det-exact (decimal-grid sum / count, then
    // grid-round) so values hash identically across engines despite
    // float inputs. Emitted in LONG form (label, pos, mv) — the
    // driver's compare sorts rows by every column, which an array cell
    // can't support; q_embed_outliers consumes the assembled array form
    // internally (centroids below). At any scale the partial
    // aggregation combines map-side; output = labels × dim rows, tiny.
    QDef("q_embed_centroid",
      (s, d) => centroidMeans(s, d)
        .select(col("label"), col("pos"), col("mv"),
          col("n").as("n_vecs")),
      Some(centroidSql +
        " SELECT label, CAST(pos AS INT) AS pos, mv, " +
        "CAST(n AS BIGINT) AS n_vecs FROM m")),

    // X3/X4: embedding-space outlier scoring — each vector's cosine to
    // its OWN label centroid; the 20 least-typical vectors (lowest
    // cosine) surface mislabeled/garbage embeddings, the standard
    // embedding-QA cut before training on a clustered corpus. Shape:
    // broadcast the (labels × dim) centroid table, per-row cosine, one
    // TakeOrderedAndProject — no shuffle of the vector corpus beyond
    // the centroid build itself. Zero-norm/NULL embeddings score the
    // sentinel -1.0 (the cosine floor) so the exact garbage this cut
    // hunts leads the ranking instead of vanishing — see
    // normedVectorsAndCentroids.
    QDef("q_embed_outliers",
      (s, d) => {
        val (v, cent) = normedVectorsAndCentroids(s, d)
        v.join(broadcast(cent), "label")
          .withColumn("cos_sim", centCos)
          .orderBy(col("cos_sim").asc, col("vec_id").asc)
          .limit(20)
          .select("vec_id", "label", "cos_sim")
      },
      Some(normedSql +
        "SELECT vec_id, v.label, " + centCosSql +
        " AS cos_sim FROM v JOIN cn ON v.label = cn.label " +
        "ORDER BY cos_sim, vec_id LIMIT 20"))
  ,

    // X3/X4: nearest-centroid assignment — the E-step of Lloyd's / the
    // classify-by-centroid pass: every vector re-assigned to its most
    // cosine-similar label centroid, with a match flag against the
    // stored label (mismatches ≈ mislabel candidates, the follow-up cut
    // after q_embed_outliers). Shape: vectors × broadcast centroid
    // table (labels × dim, tiny at any corpus size), per-row cosines,
    // then ONE shuffle on vec_id for the WindowGroupLimit-capped
    // argmax — the corpus never self-joins.
    QDef("q_embed_assign",
      (s, d) => {
        val (v, cent) = normedVectorsAndCentroids(s, d)
        val w = Window.partitionBy("vec_id")
          .orderBy(col("cos_sim").desc, col("c_label").asc)
        v.crossJoin(broadcast(
            cent.withColumnRenamed("label", "c_label")))
          .withColumn("cos_sim", centCos)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("vec_id"), col("label"),
            col("c_label").as("assigned_label"), col("cos_sim"),
            (col("c_label") === col("label")).as("label_match"))
      },
      Some(normedSql +
        "SELECT vec_id, label, c_label AS assigned_label, cos_sim, " +
        "c_label = label AS label_match FROM (" +
        "SELECT v.vec_id, v.label, cn.label AS c_label, " +
        centCosSql + " AS cos_sim, " +
        "row_number() OVER (PARTITION BY v.vec_id ORDER BY " +
        centCosSql + " DESC, cn.label) AS rn " +
        "FROM v CROSS JOIN cn) WHERE rn = 1")),

    // X3: INT8 SCALAR-QUANTIZED similarity — the storage lever every
    // 100 TB vector deployment pulls: per-vector symmetric quantization
    // (scale = max|v_i| / 127, code = round(v_i/scale)) shrinks the
    // payload 4× (int8 codes + one double scale vs float32), and
    // candidate scoring runs on DEQUANTIZED vectors whose error is
    // bounded by scale/2 per coordinate. STORED-INDEX-BACKED (r13 —
    // the last retrieval leg that re-quantized the corpus per run):
    // codes live in the memoized bucketed (vec_id, sc, codes) table
    // maintained at ingest (SqIndex — doc-local scale, append-exact);
    // the probe reconstructs code*sc, which is bit-identical to
    // quantizing in-flight, so the oracle — which mirrors the
    // arithmetic from the raw embeddings — is unchanged and the hash
    // gate proves quantize + store + reconstruct end to end.
    QDef("q_sq8",
      (s, d) => SqIndex.topK(s, SqIndex.sqIndex(s, d), _ < 10, k = 5),
      Some("WITH e AS (SELECT vec_id, " +
        s"${CosSim.canonSql(CosSim.EmbDim)} AS v FROM embeddings), " +
        "sq AS (SELECT vec_id, v, " +
        "list_max(list_transform(v, x -> abs(x))) / " +
        "CAST(127 AS DOUBLE) AS sc FROM e), " +
        "q8 AS (SELECT vec_id, list_transform(v, x -> " +
        "CASE WHEN sc = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
        "ELSE floor(x / sc + 0.5) * sc END) AS vq FROM sq), " +
        "p AS (SELECT q.vec_id AS q_id, c.vec_id AS vec_id, " +
        s"${CosSim.sentinelSql("list_dot_product(c.vq, q.vq)",
          "sqrt(list_dot_product(c.vq, c.vq))",
          "sqrt(list_dot_product(q.vq, q.vq))")} AS sim " +
        "FROM q8 c, q8 q WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id) " +
        "SELECT q_id, vec_id, sim FROM (SELECT *, row_number() OVER (" +
        "PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM p) " +
        "WHERE rn <= 5")),

    // X3: PRODUCT-QUANTIZED ADC search (r12) over the STORED PQ index
    // (PqIndex): codes live in a bucketed table maintained at ingest,
    // the query never touches full corpus vectors — scoring is M table
    // lookups per candidate against a broadcast 128-row per-query LUT.
    // The hash gate proves the whole ladder: deterministic per-subspace
    // codebook training, code assignment, and the ADC sums themselves
    // (decimal-grid exact in both engines).
    QDef("q_pq",
      (s, d) => {
        val q = Tables(s, d, "embeddings")
          .filter(col("vec_id") < 10)
          .select(col("vec_id"),
            CosSim.canon(col("embedding"), CosSim.EmbDim).as("v"))
        PqIndex.topK(s, PqIndex.pqIndex(s, d), q, k = 5)
      },
      Some(PqIndex.oracleSql(maxQueryId = 10, topK = 5))),

    // X3: IVF-PQ (r12) — the canonical billion-scale ANN layout
    // (FAISS's IndexIVFPQ; Jégou et al. §V): the stored COARSE
    // quantizer restricts each query to its cell's residents, and the
    // stored PQ CODES ADC-score only those — probe cost
    // O(|cell| · M lookups) per query, with neither full corpus
    // vectors nor corpus-wide code scans touched. Queries come off the
    // IVF table (carrying their cell), so the probe plan reads ONLY
    // the two stored indexes. Both indexes are append-maintained; this
    // QDef is their composition, hash-gated end to end.
    QDef("q_ivfpq",
      (s, d) => {
        val cells = s.table(IvfIndex.ivfIndex(s, d))
        val q = cells.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("v"),
            col("cell").as("q_cell"))
        val cand = cells
          .join(broadcast(q.select(col("q_id"), col("q_cell"))),
            col("cell") === col("q_cell") &&
              col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"))
        PqIndex.topKPairs(s, PqIndex.pqIndex(s, d),
          q.select(col("q_id").as("vec_id"), col("v")), cand, k = 3)
      },
      Some(PqIndex.oracleSqlIvfPq(ivfK = IvfIndex.K, maxQueryId = 10,
        topK = 3))),

    // X3: BINARY QUANTIZATION (r12) — the bottom compression rung
    // ([[BqIndex]]): 8-byte sign signatures, xor+popcount Hamming
    // prefilter to top-C, exact rerank through the stored AnnIndex
    // payload. Integer end-to-end until the rerank, so the hash gate
    // proves the packed-word Hamming against DuckDB's positional
    // sign-mismatch count.
    QDef("q_bq",
      (s, d) => BqIndex.topK(s, BqIndex.bqIndex(s, d),
        AnnIndex.annIndex(s, d) + "_vec", _ < 10, k = 5),
      Some(BqIndex.oracleSql(maxQueryId = 10, topK = 5))),

    // X4: SEMANTIC DEDUP (r12) — SemDeDup (Abbas et al., 2023,
    // arXiv:2303.09540): cluster the corpus with a coarse quantizer,
    // then drop near-duplicate embeddings WITHIN each cluster — pair
    // cost is Σ|cell|², never corpus², and k SCALES WITH THE CORPUS
    // (semDedupIndex: k = max(8, ⌈n/SddCellSize⌉), a stored quantizer
    // of its own) so cells keep a bounded expected size and the pair
    // pass stays LINEAR — with a fixed k the ratio audit measured 30×
    // on 10× data; with scaling, 1.5× (SCALE_SF1.md).
    // Both sides of the pair join read the same bucketed-on-cell
    // table, so the join itself needs no Exchange. Survivor rule:
    // deterministic lowest-id-wins — a vector is dropped when ANY
    // lower-id vector in its cell is >= τ cosine-similar (one pass,
    // non-transitive; τ = 0.4 matches q_embed_dedup's pair cut on this
    // corpus). Emits the KEPT rows (vec_id, cell).
    QDef("q_semdd",
      (s, d) => {
        val cells = s.table(semDedupIndex(s, d))
        val a = cells.select(col("vec_id").as("a_id"),
          col("v").as("qv"), col("nrm").as("qn"),
          col("cell").as("a_cell"))
        val b = cells.select(col("vec_id").as("b_id"), col("v"),
          col("nrm"), col("cell"))
        val sim = CosSim.sentinel(expr(dotAB), col("nrm"), col("qn"))
        val dropped = b.join(a, col("a_cell") === col("cell") &&
            col("a_id") < col("b_id"))
          .withColumn("sim", sim)
          .filter(col("sim") >= 0.4)
          .select(col("b_id").as("vec_id")).distinct()
        // AQE sizes the anti join (dropped is usually tiny → broadcast)
        cells.join(dropped, Seq("vec_id"), "left_anti")
          .select(col("vec_id"), col("cell"))
      },
      // oracle precondition: quantizerCtes(8) mirrors the scaled
      // quantizer EXACTLY while sddK(n_oracle_corpus) == 8 — pinned by
      // AnnIndexSpec's tripwire on the sf0.01 corpus size
      Some(s"WITH ${Ivf.quantizerCtes(IvfIndex.K)}, " +
        "d AS (SELECT DISTINCT b.vec_id FROM cells a JOIN cells b " +
        "ON a.cell = b.cell AND a.vec_id < b.vec_id WHERE " +
        s"${CosSim.sentinelSql("list_dot_product(b.v, a.v)",
          "sqrt(list_dot_product(b.v, b.v))",
          "sqrt(list_dot_product(a.v, a.v))")} >= 0.4) " +
        "SELECT c.vec_id, c.cell FROM cells c ANTI JOIN d " +
        "ON c.vec_id = d.vec_id")),

    // X3: METADATA-FILTERED ANN (r12) — filtered vector search, the
    // production feature every vector store ships: top-3 neighbors
    // AMONG candidates sharing the query's label (filter applied
    // BEFORE the k-cut — post-filtering the global top-k would return
    // fewer/worse neighbors, the classic filtered-ANN trap). Served
    // from the same stored index; the label rides in the payload table
    // and the equality costs nothing beyond the rescoring join it
    // already sits on.
    QDef("q_annf",
      (s, d) => AnnIndex.topKFiltered(s, AnnIndex.annIndex(s, d),
        _ < 10, k = 3, matchCols = Seq("label")),
      Some(s"WITH ${bandedCtes(maxQueryId = 10)}, " +
        "pf AS (SELECT p.q_id, p.vec_id, p.sim FROM p " +
        "JOIN e c ON p.vec_id = c.vec_id " +
        "JOIN e q ON p.q_id = q.vec_id " +
        "WHERE c.label IS NOT DISTINCT FROM q.label) " +
        "SELECT q_id, vec_id, sim FROM (SELECT *, row_number() OVER (" +
        "PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn FROM pf) " +
        "WHERE rn <= 3")),

    // X3 + X5 + RAG: HYBRID retrieval (r12) — the production RAG shape:
    // a LEXICAL leg and a DENSE leg fused by reciprocal-rank fusion,
    // BOTH served from stored indexes. Framed as query-by-example
    // related-document search (doc_id ≡ vec_id in the corpus): for each
    // query doc (doc_id < 3), the lexical leg probes the stored BM25
    // postings with the doc's DISTINCT tokens (top-10 by score,
    // self-excluded), the dense leg is the stored-band-index ANN top-10,
    // and RRF fuses them: rrf = Σ_legs 1/(60 + rank) — Cormack et al.'s
    // constant; ranks are deterministic integers, so the fused score is
    // a sum of exact reciprocals computed with identical IEEE ops on
    // both engines (no tf-idf/cosine scale mismatch to calibrate, which
    // is exactly why production hybrid search uses RRF). Top-5 fused per
    // query, (rrf desc, doc_id) tiebreak. Cost shape: two stored-index
    // probes + a 20-row-per-query fuse — corpus-scan-free.
    QDef("q_rrf",
      (s, d) => {
        import graft.operators.{TextOps => TO}
        val qt = broadcast(Tables(s, d, "documents")
          .filter(col("doc_id") < 3)
          .select(col("doc_id").as("q_id"),
            explode(expr(TO.toksExpr)).as("token")))
        val wl = Window.partitionBy("q_id")
          .orderBy(col("score").desc, col("doc_id").asc)
        val lexR = TO.bm25Score(qt, TO.bm25Index(s, d))
          .filter(col("doc_id") =!= col("q_id"))
          .withColumn("lrn", row_number().over(wl))
          .filter(col("lrn") <= 10)
          .select("q_id", "doc_id", "lrn")
        val wd = Window.partitionBy("q_id")
          .orderBy(col("sim").desc, col("vec_id").asc)
        val denseR = AnnIndex.topK(s, AnnIndex.annIndex(s, d), _ < 3,
            k = 10)
          .withColumn("drn", row_number().over(wd))
          .select(col("q_id"), col("vec_id").as("doc_id"), col("drn"))
        // Fuse by UNION + per-(q_id, doc_id) sum instead of a FULL OUTER
        // join (r20, guide §2.4 "remove shuffles outright"): the outer
        // join planned as SortMergeJoin FullOuter — two exchanges + two
        // sorts over the ≤30-row legs, plus a third exchange for the
        // final window. Value-identical: each (q_id, doc_id) appears in
        // ≤1 row per leg, so sum(c) sees one or two terms — IEEE
        // addition of two doubles is commutative, and the one-leg case
        // equals the old coalesce form's c + 0.0. The explicit
        // repartition on q_id alone (not the agg's (q_id, doc_id))
        // satisfies both the aggregate's clustering (subset key) and
        // the fuse window's, so ONE exchange serves both; per-q_id
        // volume is ≤ 20 rows at ANY scale, so the coarser key cannot
        // skew.
        val contrib = lexR.select(col("q_id"), col("doc_id"),
            (lit(1.0) / (lit(60) + col("lrn"))).as("c"))
          .unionAll(denseR.select(col("q_id"), col("doc_id"),
            (lit(1.0) / (lit(60) + col("drn"))).as("c")))
        val wf = Window.partitionBy("q_id")
          .orderBy(col("rrf").desc, col("doc_id").asc)
        contrib.repartition(col("q_id"))
          .groupBy("q_id", "doc_id")
          .agg(Det.rnd(sum(col("c")), 6).as("rrf"))
          .withColumn("rn", row_number().over(wf))
          .filter(col("rn") <= 5)
          .select(col("q_id"), col("doc_id"), col("rrf"),
            col("rn").cast("int").as("rn"))
      },
      Some("WITH q AS (SELECT doc_id AS q_id, unnest(" +
        graft.operators.TextOps.toksSql + ") AS token " +
        "FROM documents WHERE doc_id < 3), " +
        "toks AS (SELECT doc_id, unnest(string_split_regex(" +
        "trim(coalesce(text, '')), '\\s+')) AS token FROM documents), " +
        "tf AS (SELECT doc_id, token, count(*) AS tf FROM toks " +
        "GROUP BY doc_id, token), " +
        "dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks " +
        "GROUP BY doc_id), " +
        "df AS (SELECT token, count(*) AS df FROM tf GROUP BY token), " +
        "n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl), " +
        "t AS (SELECT q.q_id, tf.doc_id, " +
        "((n.n_docs - df.df + 0.5) / (df.df + 0.5)) * " +
        "((CAST(tf.tf AS DOUBLE) * 2.2) / (tf.tf + 1.2 * " +
        "(1.0 - 0.75 + 0.75 * dl.dl / n.avgdl))) AS term " +
        "FROM q JOIN tf USING (token) JOIN df USING (token) " +
        "JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN n " +
        "WHERE tf.doc_id <> q.q_id), " +
        "lexs AS (SELECT q_id, doc_id, " +
        Det.exactSumSql("term", 6) + " AS score " +
        "FROM t GROUP BY q_id, doc_id), " +
        "lexr AS (SELECT q_id, doc_id, lrn FROM (SELECT q_id, doc_id, " +
        "row_number() OVER (PARTITION BY q_id " +
        "ORDER BY score DESC, doc_id) AS lrn FROM lexs) WHERE lrn <= 10), " +
        bandedCtes(maxQueryId = 3) + ", " +
        "denser AS (SELECT q_id, doc_id, drn FROM (SELECT q_id, " +
        "vec_id AS doc_id, row_number() OVER (PARTITION BY q_id " +
        "ORDER BY sim DESC, vec_id) AS drn FROM p) WHERE drn <= 10), " +
        "f AS (SELECT coalesce(l.q_id, r.q_id) AS q_id, " +
        "coalesce(l.doc_id, r.doc_id) AS doc_id, l.lrn, r.drn " +
        "FROM lexr l FULL OUTER JOIN denser r " +
        "ON l.q_id = r.q_id AND l.doc_id = r.doc_id), " +
        "sc AS (SELECT q_id, doc_id, " +
        Det.rndSql("coalesce(CAST(1.0 AS DOUBLE) / (60 + lrn), 0) + " +
          "coalesce(CAST(1.0 AS DOUBLE) / (60 + drn), 0)", 6) +
        " AS rrf FROM f) " +
        "SELECT q_id, doc_id, rrf, rn FROM (SELECT *, " +
        "CAST(row_number() OVER (PARTITION BY q_id " +
        "ORDER BY rrf DESC, doc_id) AS INT) AS rn FROM sc) " +
        "WHERE rn <= 5"))
  )

  /** Shared scaffolding for the centroid-cosine queries
    * (q_embed_outliers, q_embed_assign), so the zero-norm handling and
    * the norm formula can't drift between them:
    * `v` = (vec_id, label, v, vnrm) with ALL vectors kept — a zero-norm
    * (or NULL) embedding is exactly the garbage row the outlier/mislabel
    * cut exists to surface, so rather than divide by zero (Spark's
    * non-ANSI x/0.0 yields NULL which sorts FIRST ascending while DuckDB
    * sorts NULLS LAST — inside a LIMIT/argmax the engines would
    * disagree) [[centCos]] gives such rows the sentinel cos_sim -1.0:
    * the cosine floor, so they deterministically lead the outlier cut
    * and argmax-tie-break on label in BOTH engines. `cent` = (label, cv,
    * cnrm) with the centroid norm computed ONCE in the tiny broadcast
    * table (a per-label constant must not be re-folded per corpus row);
    * zero-norm CENTROIDS stay excluded — a label whose mean vector is
    * exactly zero has no direction to compare against, and its vectors
    * drop out of the label-equi-join (q_embed_outliers) / lose that one
    * candidate arm (q_embed_assign).
    */
  private def normedVectorsAndCentroids(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val cent = centroids(s, d).select(col("label"),
      col("centroid").as("cv"),
      expr("sqrt(graft_dot(centroid, centroid))").as("cnrm"))
      .filter(col("cnrm") > 0d)
    val v = Tables(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        CosSim.canon(col("embedding"), CosSim.EmbDim).as("v"))
      .withColumn("vnrm", expr(norm))
    (v, cent)
  }

  /** Cosine of a vector row against its joined centroid row; zero-norm
    * (or NULL) vectors get the sentinel -1.0 — see
    * [[normedVectorsAndCentroids]].
    */
  private def centCos: org.apache.spark.sql.Column =
    CosSim.sentinel(expr("graft_dot(v, cv)"), col("vnrm"), col("cnrm"))

  /** DuckDB twins: [[normedSql]] extends centroidSql with the cn/v CTEs
    * (the centroid guard applied IN the cn CTE — alias reuse in WHERE is
    * legal in DuckDB); [[centCosSql]] is the cosine over those CTEs with
    * the same zero-norm sentinel branch as [[centCos]].
    */
  private lazy val normedSql = centroidSql +
    ", cn AS (SELECT label, centroid, " +
    "sqrt(list_dot_product(centroid, centroid)) AS cnrm FROM cent " +
    "WHERE cnrm > 0), " +
    // lateral alias reuse (v inside vnrm) — same DuckDB feature the cn
    // CTE leans on; evaluates the canonicalization once per row
    s"v AS (SELECT vec_id, label, ${CosSim.canonSql(CosSim.EmbDim)} AS v, " +
    "sqrt(list_dot_product(v, v)) AS vnrm FROM embeddings) "
  private lazy val centCosSql =
    CosSim.sentinelSql("list_dot_product(v.v, cn.centroid)",
      "v.vnrm", "cn.cnrm")

  /** Per-(label, pos) Det-exact mean: (label, pos, mv, n) — the long
    * form q_embed_centroid emits; n is the per-label vector count
    * (identical at every pos).
    */
  private def centroidMeans(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables(s, d, "embeddings").select(col("label"),
      posexplode(col("embedding").cast("array<double>"))
        .as(Seq("pos", "val")))
      .groupBy(col("label"), col("pos"))
      .agg(Det.rnd(Det.exactSum(col("val"), 6) / count(lit(1)), 6)
        .as("mv"), count(lit(1)).as("n"))

  /** Assembled array form: (label, centroid array<double>) — consumed
    * by q_embed_outliers' cosine; shares centroidMeans so the two
    * queries can't drift.
    */
  private def centroids(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    centroidMeans(s, d).groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
        x => x.getField("mv")).as("centroid"))

  /** DuckDB twin of [[centroids]] as a WITH prefix ending in `cent`.
    * lazy: declared below `defs`, which references it during its own
    * eager initialization — a plain val would still be null there.
    */
  private lazy val centroidSql =
    "WITH x AS (SELECT label, gs - 1 AS pos, " +
      "CAST(embedding[gs] AS DOUBLE) AS val FROM (" +
      "SELECT label, embedding, " +
      "unnest(generate_series(1, len(embedding))) AS gs " +
      "FROM embeddings)), " +
      "m AS (SELECT label, pos, " +
      s"${Det.rndSql(Det.exactSumSql("val", 6) + " / count(*)", 6)} " +
      "AS mv, count(*) AS n FROM x GROUP BY label, pos), " +
      "cent AS (SELECT label, CAST(max(n) AS BIGINT) AS n_vecs, " +
      "list(mv ORDER BY pos) AS centroid FROM m GROUP BY label)"
}
