package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One registered operator query: a Spark implementation over the harness
  * tables plus (when SQL-expressible) a DuckDB oracle that must hash-match.
  *
  * Determinism discipline (SURVEY.md §5.1): no `first()` without a windowed
  * order, explicit tiebreaks inside every `row_number`, `round` on double
  * aggregates, identical column aliases on both sides.
  */
final case class QDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Readers for the harness tables (TESTDATA.md / FIXTURES.md §A). */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    name match {
      case "events" => events(spark, sfDir)
      case n        => spark.read.parquet(s"$sfDir/$n.parquet")
    }

  /** `events.parquet` has shipped in two generator flavors: parquet
    * TIMESTAMP(NANOS) — which Spark has no native type for, so it reads
    * as raw nanos LONG under `nanosAsLong` and truncates to micros
    * (integer `div`, no double loss at ~1.7e18 — exactly DuckDB's ns→µs
    * coercion) — and, from the 2026-08-13 regeneration on, native
    * TIMESTAMP(MICROS, isAdjustedToUTC=false), which reads as
    * TIMESTAMP_NTZ and only needs the cast to session-zone (UTC)
    * TimestampType to keep downstream semantics and the DuckDB oracle
    * (naive µs on its side) identical. Dispatch on the read schema so
    * both layouts work.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(spark.read.parquet(s"$sfDir/events.parquet"))
  }

  /** Normalize a raw events frame's `ts` (either flavor — see [[events]])
    * to µs-precision session-zone TimestampType, in place.
    */
  private[graft] def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }

  /** SQL expression extracting µs-since-epoch as LONG from a raw events
    * `ts` of the given read type — the streaming ops key state on this.
    */
  private[graft] def tsMicrosExpr(
      dt: org.apache.spark.sql.types.DataType): String = dt match {
    case org.apache.spark.sql.types.LongType => "ts div 1000"
    case _ => "unix_micros(CAST(ts AS TIMESTAMP))"
  }
}

/** Cross-engine numeric determinism helpers (SURVEY.md §5.1).
  *
  * `Spark round()` (BigDecimal HALF_UP on the exact binary value) and
  * DuckDB `round()` (multiply-then-std::round) disagree near .xx5
  * boundaries, and floating-point sums depend on accumulation order. Both
  * are fixed by doing the arithmetic identically on both sides:
  *   - rnd: floor(x*10^n + 0.5)/10^n — same double ops in both engines.
  *   - exactSum: sum integer "cents" floor(x*10^n + 0.5) — integers sum
  *     exactly in ANY order, so partial-aggregation order, partitioning,
  *     and engine differences cannot change the result. The cents are
  *     summed as decimal(38,0) (DuckDB: HUGEINT), NOT double: a double
  *     accumulator is only exact below 2^53, which a 100 TB
  *     sum(l_extendedprice * 10^4) would cross. The single
  *     decimal→double cast after the sum rounds to nearest-even in both
  *     engines (Java BigDecimal.doubleValue / C++ int128→double).
  * Each helper has a *Sql twin that emits the same shape for the DuckDB
  * oracle; keep them in sync.
  */
object Det {
  import org.apache.spark.sql.Column

  def rnd(c: Column, n: Int): Column = {
    val p = math.pow(10, n)
    floor(c * lit(p) + lit(0.5)) / lit(p)
  }
  def rndSql(e: String, n: Int): String = {
    val p = BigInt(10).pow(n)
    s"floor(($e) * $p + 0.5) / $p"
  }

  /** The per-row cents enter the decimal sum THROUGH A LONG (r19,
    * optimization guide §4 "eliminate non-codegen-friendly work in the
    * hot path"): Spark's double→decimal cast goes through
    * BigDecimal.valueOf(double) — a Double.toString + reparse per row —
    * while long→decimal constructs a compact (long-backed) Decimal with
    * no string round-trip. Measured: −10-20% on the exactSum-heavy
    * aggregates at sf0.1. Value-identical for every |cents| < 2^63,
    * i.e. per-row |x| < 9.2e18/10^n — orders of magnitude above any
    * price/score this grid is applied to (the row-LEVEL bound does not
    * grow with corpus scale; only the SUM does, and the sum stays
    * decimal(38,0)). Non-finite inputs remain outside the contract:
    * the DuckDB oracle's HUGEINT cast errors on NaN/Inf, so the
    * declared semantics there were never defined.
    */
  def exactSum(c: Column, n: Int): Column = {
    val p = math.pow(10, n)
    sum(floor(c * lit(p) + lit(0.5)).cast("long").cast("decimal(38,0)"))
      .cast("double") / lit(p)
  }
  def exactSumSql(e: String, n: Int): String = {
    val p = BigInt(10).pow(n)
    s"CAST(sum(CAST(floor(($e) * $p + 0.5) AS HUGEINT)) AS DOUBLE) / $p"
  }

  /** TWO-LEVEL exactSum building blocks (r19, optimization guide §2.3
    * "aggregate before you shuffle" applied to the ACCUMULATOR type):
    * sum(decimal(38,0)) pays a BigDecimal read-add-write per input row
    * in the aggregation buffer — measured ~0.4 s per 600k×6 updates at
    * sf0.1, the dominant cost of every low-cardinality-group aggregate
    * over lineitem. A query that can name a BOUNDED-COUNT subgroup key
    * (l_orderkey div 8192: ≤ 8192 orders × ≤ 7 lines = ≤ 57,344 rows
    * per subgroup AT ANY SCALE — TPC-H fixes lines-per-order ≤ 7)
    * instead sums [[cents]] in LONG within (group, subkey) — exact,
    * because per-row |cents| ≤ ~10^9 (or ≤ ~10^14 for the moments
    * products) keeps 57k-row subgroup sums under 2^63 with margin —
    * then rolls the subgroup longs up per group through
    * [[exactSumFinal]]'s decimal(38,0), which now sees subgroup COUNTS
    * of rows, not rows. Integer addition is associative: the result is
    * bit-identical to single-level [[exactSum]] on every input,
    * independent of partitioning (gated per query by the unchanged
    * DuckDB oracle). Measured: q_stats_moments 0.60→0.30 s.
    */
  def cents(c: Column, n: Int): Column =
    floor(c * lit(math.pow(10, n)) + lit(0.5)).cast("long")

  /** Final-level rollup of subgroup long sums at grid n — see
    * [[cents]]. */
  def exactSumFinal(c: Column, n: Int): Column =
    sum(c.cast("decimal(38,0)")).cast("double") / lit(math.pow(10, n))

  /** Exception-free fast path for `try_cast(<string> AS <integral>)` on
    * columns where most rows FAIL the cast (r19). Spark's TRY cast
    * failure path constructs a full error-class exception per failing
    * row (~9 µs measured at sf0.1 — 86k failing rows cost ~0.8 s in
    * q_try_arith); pre-gating with this regex lets definitely-invalid
    * strings return NULL without ever entering the throwing path, while
    * anything the gate passes still goes through the REAL try_cast, so
    * semantics cannot drift. The gate is a strict SUPERSET of the ANSI
    * string→integral accept grammar (optional ASCII-whitespace trim,
    * optional sign, digits, optional fraction/exponent/suffix — all of
    * which try_cast itself then re-validates): gate-reject ⇒
    * try_cast-reject, verified over an adversarial matrix (signs,
    * whitespace flavors incl. unicode NBSP — which try_cast also
    * rejects — overflow, fractions, exponents, junk) in
    * TryCastGateSpec.
    */
  val TryCastNumGate: String =
    "^\\s*[-+]?(\\d+(\\.\\d*)?|\\.\\d+)([eE][-+]?\\d+)?[dDfF]?\\s*$"

  /** `try_cast(e AS t)` with the [[TryCastNumGate]] pre-gate fused in —
    * `e` must be a SQL expression usable verbatim (a column name or a
    * parenthesized expression). The gate regex rides as a SQL string
    * literal, so its backslashes are doubled for the SQL parser.
    */
  def tryCastNumSql(e: String, t: String): String = {
    val sqlGate = TryCastNumGate.replace("\\", "\\\\")
    s"(CASE WHEN regexp_like($e, '$sqlGate') " +
      s"THEN try_cast($e AS $t) END)"
  }
}

/** Boundary-rank percentile interpolation — THE one definition shared by
  * q_percentile, q_approx_percentile and q_winsorize (each previously
  * carried its own copy of this subtle formula; a fix to one would have
  * silently missed the others). Both engines use the (n-1)p linear
  * interpolation: 0-based target h = (n-1)p, value = v[floor(h)] +
  * (v[floor(h)+1] - v[floor(h)]) * frac(h) over the group-sorted column.
  *
  * Inputs are a pre-ranked frame: `rn` = row_number over the
  * group-by-value window (unique tiebreaks required for determinism),
  * `n` = count over the group. `interp` is an AGGREGATE expression
  * (evaluate under groupBy); `boundary` is the pre-aggregation filter
  * keeping only the ≤2 rows per p that the interpolation can touch —
  * optional (interp is correct without it) but it keeps the aggregate's
  * input at k rows per group instead of all of them. The *Sql twins emit
  * the identical arithmetic for the DuckDB oracle.
  */
object Pctl {
  import org.apache.spark.sql.Column

  def lo(p: Double, n: Column): Column =
    floor((n - 1) * lit(p)).cast("long") + 1

  private def vAt(p: Double, off: Int, rn: Column, n: Column,
      v: Column): Column = max(when(rn === lo(p, n) + off, v))

  def interp(p: Double, rn: Column, n: Column, v: Column): Column = {
    val hA = (max(n) - 1) * lit(p)
    val frac = hA - floor(hA)
    val v0 = vAt(p, 0, rn, n, v)
    v0 + (coalesce(vAt(p, 1, rn, n, v), v0) - v0) * frac
  }

  def boundary(ps: Seq[Double], rn: Column, n: Column): Column =
    ps.map(p => rn === lo(p, n) || rn === lo(p, n) + 1).reduce(_ || _)

  def loSql(p: Double, n: String = "n"): String =
    s"CAST(floor(($n - 1) * $p) AS BIGINT) + 1"

  private def vAtSql(p: Double, off: Int, rn: String, n: String,
      v: String): String =
    s"max(CASE WHEN $rn = ${loSql(p, n)} + $off THEN $v END)"

  def interpSql(p: Double, rn: String = "rn", n: String = "n",
      v: String = "value"): String = {
    val hA = s"((max($n) - 1) * $p)"
    val frac = s"($hA - floor($hA))"
    val v0 = vAtSql(p, 0, rn, n, v)
    s"($v0 + (coalesce(${vAtSql(p, 1, rn, n, v)}, $v0) - $v0) * $frac)"
  }

  def boundarySql(ps: Seq[Double], rn: String = "rn",
      n: String = "n"): String =
    ps.map(p => s"$rn = ${loSql(p, n)} OR $rn = ${loSql(p, n)} + 1")
      .mkString(" OR ")
}

/** Scale-safe per-group ranking — the shared machinery behind the exact
  * percentile/ntile family (q_percentile, q_approx_percentile, q_ntile,
  * q_winsorize). The naive shape — `row_number().over(Window.partitionBy
  * (group).orderBy(value))` — puts EVERY row of a group in ONE task
  * (WindowExec moves the whole window partition to a single task), and
  * these groups are low-cardinality by nature (3 return flags, a handful
  * of event types): at 100 TB that is a ~30 TB single-task sort. This is
  * the q_shuffle_global two-phase zipWithIndex decomposition generalized
  * to (group, value) range sharding:
  *
  *   1. ONE full shuffle: `repartitionByRange` on (group ++ orderCols),
  *      so each task holds a contiguous slice of each group's value
  *      order (a group spans MANY tasks; parallelism = partition count,
  *      independent of group cardinality), sorted within partitions.
  *   2. Per-row intra-partition position WITHOUT a window:
  *      `monotonically_increasing_id` is (partitionId << 33) + a
  *      counter that increments by 1 per row within the partition —
  *      contiguous within a partition by construction (guarded by
  *      RangeRankSpec's property test against the window form), so
  *      `mid - min(mid per (pid, group))` is the 0-based rank of the
  *      row inside its partition's slice of the group.
  *   3. A (pid, group) aggregate — map-side combined, ≤ partitions ×
  *      groups rows at ANY scale — carries min(mid), the slice counts,
  *      the running per-group offset (a window over THIS tiny frame
  *      only) and the group total n; broadcast back and
  *      rn = offset + (mid - base) + 1.
  *
  * The two consumers of the shuffled frame (the ranked rows and the
  * tiny aggregate) share one canonicalized Exchange, so AQE reuses it
  * (ReusedExchange — same mechanism q_surprisal gates); the counts job
  * never rescans the source. Ties across partition boundaries: range
  * partitioning keys on the FULL (group, orderCols) tuple, so when
  * orderCols is a total order ranks are exactly the window form's; when
  * it is not (q_percentile orders by value alone), equal values may
  * permute WITHIN their rank run, but every consumer reads only the
  * VALUE at a boundary rank, which ties share — outputs are identical
  * either way.
  */
object Rank {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.expressions.Window

  /** Regime crossover (VERDICT r11 #3): below this Catalyst size
    * estimate the plain per-group window is FASTER — the range
    * machinery's extra jobs (slices aggregate + broadcast join) cost a
    * fixed ~0.5-1 s that a small sort never earns back (measured:
    * sf0.1 lineitem ≈ 4.5 MB estimate, window 0.86 s vs range 1.75 s;
    * sf1 ≈ 45 MB, window 5.54 s vs range 2.66 s — and the gap grows
    * without bound, since the window form sorts each group in ONE
    * task). 16 MB sits a ~4× margin from both measured points. The
    * dispatch reads `optimizedPlan.stats` — an ESTIMATE, so a wrong
    * pick costs only time: both regimes are value-identical
    * (RangeRankSpec gates each against the other and the window
    * truth).
    */
  val WindowRegimeMaxBytes: Long = 16L * 1024 * 1024

  /** `in`'s columns plus `rn` (1-based rank of the row within its
    * group, ordered by `orderCols`) and `n` (group size), by whichever
    * regime fits the input's size estimate: the literal window form
    * under [[WindowRegimeMaxBytes]] (small data — per-group
    * single-task sort is cheap and saves two jobs), the range-sharded
    * two-phase decomposition above it (no group ever concentrates in
    * one task). Same output either way.
    */
  def rangeRanked(in: DataFrame, groupCol: String,
      orderCols: Seq[String]): DataFrame =
    if (in.queryExecution.optimizedPlan.stats.sizeInBytes
        <= WindowRegimeMaxBytes) windowRanked(in, groupCol, orderCols)
    else rangeSharded(in, groupCol, orderCols)

  /** The small-data regime: the textbook rank window, emitting the
    * same (rn: long, n: long) contract as [[rangeSharded]]. Both
    * window functions ride ONE spec (r19): `n` uses the same
    * partition+order as `rn` with an explicit unbounded-both-ways
    * frame — count over the whole partition is order-invariant, so the
    * value is unchanged, but sharing the spec lets Spark plan ONE
    * WindowExec (one partition buffering pass) instead of two
    * (measured: 2 Window operators → 1, ~−10% on the q_ntile family
    * at sf0.1; RangeRankSpec gates value equality with the sharded
    * regime).
    */
  private[graft] def windowRanked(in: DataFrame, groupCol: String,
      orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(groupCol)
      .orderBy(orderCols.map(col): _*)
    in.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n",
        count(lit(1)).over(w.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
  }

  /** The scale regime — see the object doc for the decomposition. */
  private[graft] def rangeSharded(in: DataFrame, groupCol: String,
      orderCols: Seq[String]): DataFrame = {
    // correctness of the two-consumer shape depends on BOTH consumers
    // observing the SAME RangePartitioner sample: exchange reuse makes
    // that structural. With reuse disabled each consumer would plan its
    // own range exchange whose sampling may place boundaries
    // differently, and the _pid==_spid join would silently corrupt
    // ranks — fail loudly instead (ADVICE r11).
    require(in.sparkSession.conf
        .getOption("spark.sql.exchange.reuse").forall(_ != "false"),
      "Rank.rangeSharded requires spark.sql.exchange.reuse=true: with " +
        "reuse off the slices aggregate and the ranked rows could " +
        "observe different range-partition boundaries and produce " +
        "wrong ranks with no error")
    val keys = (groupCol +: orderCols).map(col)
    val parts =
      in.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val t = in.repartitionByRange(parts, keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_mid", monotonically_increasing_id())
    // tiny: partitions × groups rows, partial-aggregated map-side
    val wOff = Window.partitionBy(groupCol).orderBy("_pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val slices = t.groupBy(col("_pid"), col(groupCol))
      .agg(count(lit(1)).as("_cnt"), min("_mid").as("_base"))
      .withColumn("_off", coalesce(sum("_cnt").over(wOff), lit(0L)))
      .withColumn("n",
        sum("_cnt").over(Window.partitionBy(groupCol)))
      .select(col("_pid"), col(groupCol), col("_base"), col("_off"),
        col("n"))
    // NULL-SAFE group equality: a plain equi-join would silently drop
    // rows whose group is NULL, where the window form ranks them as
    // their own partition (groupBy and Window.partitionBy both treat
    // NULL as a group, so <=> keeps the two forms row-identical)
    val sl = slices.withColumnRenamed(groupCol, "_sgrp")
      .withColumnRenamed("_pid", "_spid")
    t.join(broadcast(sl),
        col("_pid") === col("_spid") && col(groupCol) <=> col("_sgrp"))
      .withColumn("rn", col("_off") + (col("_mid") - col("_base")) + 1)
      .select((in.columns.map(col) :+ col("rn") :+ col("n")): _*)
  }

  /** Spark/DuckDB `ntile(k)` bucket from (rn, n) — closed form of the
    * uneven-division rule both engines share (the first n mod k buckets
    * take one extra row): with q = n div k, r = n mod k, ranks up to
    * r*(q+1) land in the size-(q+1) buckets, the rest count off size-q
    * buckets from r. Integer arithmetic only; ceil(x/d) = (x+d-1) div d.
    * Equality with the built-in ntile is property-tested in
    * RangeRankSpec and oracle-checked end-to-end (the DuckDB side of
    * q_ntile keeps the real `ntile(10)`).
    */
  def ntileFromRank(k: Int, rn: Column, n: Column): Column = {
    // exact long integral divide: the Column API has no `div`, and a
    // bare `/` is double division — subtract the remainder first so the
    // double quotient is an exact integer (operands here are ranks and
    // group sizes, far below 2^53)
    def idiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("long")
    val q = idiv(n, lit(k))
    val r = n % k
    val bigSpan = r * (q + 1)
    when(q === lit(0L), rn) // n < k: every bucket has one row
      .when(rn <= bigSpan, idiv(rn + q, q + 1))
      .otherwise(r + idiv(rn - bigSpan + q - 1, q))
  }
}

/** The one place a session gets graft.
  *
  * `builder` sets the session defaults shared by Verify/Bench/Main/tests:
  * UTC (oracle date parity), ANSI off (the reference's pandas
  * `errors="coerce"` null-on-failure semantics — SURVEY.md §2.7 F1/F5),
  * shuffle partitions sized for local mode, nanosAsLong for the events
  * table. It installs [[graft.extensions.GraftExtensions]] through
  * `withExtensions` (not the `spark.sql.extensions` conf, so sessions
  * graft did not build stay bare), so the session and every
  * `newSession()`/clone of it hold graft's functions, rewrite rules and
  * as-of planner strategy from birth. `ensure` arms a session graft did
  * not build.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.extensions.GraftExtensions)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft_warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // r19 (optimization guide §2.2/§2.4): let AQE coalesce the
      // shuffle feeding a persisted frame. The default (false) pins a
      // cached plan's partitioning to the static shuffle-partition
      // count, so every persist() user (q_pmi's count tables, the
      // similarity norms, the CC edge list) materialized tiny data as
      // 32 near-empty partitions and every downstream stage paid 32
      // near-empty tasks. With AQE free to re-partition the cached
      // plan, the partition count follows DATA SIZE at every scale —
      // the same adaptive behavior uncached plans already have.
      // Measured at sf0.1: q_pmi 0.96→0.71 s, q_dedup_clusters
      // 1.35→1.11 s, q_simsearch 0.36→0.32 s, value-identical (the
      // knob changes physical partitioning only; full oracle re-run
      // green).
      .config(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.ui.enabled", "false")

  /** Give `spark` graft's SQL functions and the as-of planner strategy,
    * unless it already holds them — from [[builder]], from
    * `spark.sql.extensions=graft.extensions.GraftExtensions`, or from an
    * earlier call. Idempotent. The rewrite rules are not installed: they
    * only speed up plans graft's own queries do not write.
    */
  def ensure(spark: SparkSession): Unit = {
    graft.functions.VectorFunctions.register(spark)
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .experimental
    // read-modify-write on a session-shared Seq — guard it, or two
    // first-use threads can lose each other's strategies
    exp.synchronized {
      if (!spark.sessionState.planner.strategies
          .contains(graft.plans.AsOfJoinStrategy))
        exp.extraStrategies =
          exp.extraStrategies :+ graft.plans.AsOfJoinStrategy
    }
  }
}
