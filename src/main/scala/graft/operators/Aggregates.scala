package graft.operators

import graft.{Det, Pctl, QDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregations and window functions (SURVEY.md §2.4, §2.5).
  *
  * The flagship derivation is the reference's cumulative→daily delta
  * (groupby("country")["confirmed"].diff(), ETL_OMS.py:70-74) expressed as
  * a per-partition window lag — one shuffle on the partition key, then
  * sort-within-partition; scales linearly with data per key.
  *
  * Determinism: the reference relies on input file order (latent bug noted
  * in SURVEY.md §7.4.2); here every window has an explicit total order with
  * `event_id` tiebreak, and double aggregates are rounded.
  */
object Aggregates {

  val defs: Seq[QDef] = Seq(

    // W1: per-group lag-difference with diff().fillna(0) semantics
    // (ETL_OMS.py:70-74): EVERY null delta becomes 0 — the first row of
    // each group AND any row whose own/previous value is null (the
    // reference's fillna runs after diff, so it fills mid-series nulls
    // too; coalesce reproduces that exactly). Flagship query
    // (SparkEntry.entry).
    QDef("q_delta",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, d).select(
          col("event_id"), col("user_id"), col("ts"), col("value"),
          coalesce(col("value") - lag("value", 1).over(w), lit(0.0))
            .as("delta"))
      },
      Some("SELECT event_id, user_id, ts, value, " +
        "coalesce(value - lag(value) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id), 0) AS delta " +
        "FROM events")),

    // A1: group-agg with mixed functions (ETL_OMS_OPERATIONNEL.py:160-166);
    // hash agg with partial+final (map-side combine) for free.
    QDef("q_groupagg",
      (s, d) => {
        // two-level cents aggregation (r19, Det.cents): the decimal
        // accumulators see one update per (group, l_orderkey div 8192)
        // subgroup (≤ 57,344 rows each at any scale) instead of one
        // per row; subgroup sums ride exact LONGs (per-row cents
        // ≤ ~10^9 → subgroup sums ≤ ~6×10^13). count/max/plain-double
        // sums compose across levels trivially. Bit-identical output,
        // same oracle.
        val sub = Tables(s, d, "lineitem")
          .groupBy(col("l_returnflag"), col("l_linestatus"),
            expr("l_orderkey div 8192").as("_sub"))
          .agg(sum("l_quantity").as("q"), // integral doubles: exact
            sum(Det.cents(col("l_extendedprice"), 2)).as("base"),
            sum(Det.cents(
              col("l_extendedprice") * (lit(1) - col("l_discount")), 4))
              .as("disc"),
            sum(Det.cents(col("l_discount"), 2)).as("dd"),
            max("l_shipdate").as("ship"), count(lit(1)).as("cnt"))
        sub.groupBy("l_returnflag", "l_linestatus").agg(
          sum("q").as("sum_qty"),
          Det.exactSumFinal(col("base"), 2).as("sum_base"),
          Det.exactSumFinal(col("disc"), 4).as("sum_disc"),
          (Det.exactSumFinal(col("dd"), 2) / sum("cnt")).as("avg_disc"),
          max("ship").as("last_ship"),
          sum("cnt").as("n"))
      },
      Some("SELECT l_returnflag, l_linestatus, " +
        "sum(l_quantity) AS sum_qty, " +
        s"${Det.exactSumSql("l_extendedprice", 2)} AS sum_base, " +
        s"${Det.exactSumSql("l_extendedprice * (1 - l_discount)", 4)} AS sum_disc, " +
        s"${Det.exactSumSql("l_discount", 2)} / count(*) AS avg_disc, " +
        "max(l_shipdate) AS last_ship, count(*) AS n " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus")),

    // TPC-H Q1 shape: the pricing-summary scan-heavy aggregate — one
    // pushed filter, one shuffle, partial+final aggregation over six
    // measures (cents-exact sums; averages derived by one deterministic
    // division). The canonical "aggregate 100 TB down to 6 rows" query.
    QDef("q_tpch_q1",
      (s, d) => {
        // two-level cents aggregation (r19, Det.cents — q_groupagg's
        // reasoning): six decimal accumulators over the full table were
        // the query's dominant cost; they now see subgroup rollups
        // (≤ 57,344 rows each at any scale), with the per-row work in
        // exact LONG cents. Bit-identical output, same oracle.
        val sub = Tables(s, d, "lineitem")
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy(col("l_returnflag"), col("l_linestatus"),
            expr("l_orderkey div 8192").as("_sub"))
          .agg(
            sum(Det.cents(col("l_quantity"), 2)).as("qty"),
            sum(Det.cents(col("l_extendedprice"), 2)).as("base"),
            sum(Det.cents(
              col("l_extendedprice") * (lit(1) - col("l_discount")), 4))
              .as("disc"),
            sum(Det.cents(col("l_extendedprice") * (lit(1) - col("l_discount"))
              * (lit(1) + col("l_tax")), 4)).as("charge"),
            sum(Det.cents(col("l_discount"), 4)).as("dd"),
            count(lit(1)).as("cnt"))
        sub.groupBy("l_returnflag", "l_linestatus").agg(
          Det.exactSumFinal(col("qty"), 2).as("sum_qty"),
          Det.exactSumFinal(col("base"), 2).as("sum_base_price"),
          Det.exactSumFinal(col("disc"), 4).as("sum_disc_price"),
          Det.exactSumFinal(col("charge"), 4).as("sum_charge"),
          (Det.exactSumFinal(col("qty"), 2) / sum("cnt")).as("avg_qty"),
          (Det.exactSumFinal(col("dd"), 4) / sum("cnt")).as("avg_disc"),
          sum("cnt").as("count_order"))
      },
      Some("SELECT l_returnflag, l_linestatus, " +
        s"${Det.exactSumSql("l_quantity", 2)} AS sum_qty, " +
        s"${Det.exactSumSql("l_extendedprice", 2)} AS sum_base_price, " +
        s"${Det.exactSumSql("l_extendedprice * (1 - l_discount)", 4)} " +
        "AS sum_disc_price, " +
        s"${Det.exactSumSql(
          "l_extendedprice * (1 - l_discount) * (1 + l_tax)", 4)} " +
        "AS sum_charge, " +
        s"${Det.exactSumSql("l_quantity", 2)} / count(*) AS avg_qty, " +
        s"${Det.exactSumSql("l_discount", 4)} / count(*) AS avg_disc, " +
        "count(*) AS count_order FROM lineitem " +
        "WHERE l_shipdate <= TIMESTAMP '1998-09-02' " +
        "GROUP BY l_returnflag, l_linestatus")),

    // exact count-distinct per group.
    QDef("q_count_distinct",
      (s, d) => Tables(s, d, "lineitem").groupBy("l_returnflag").agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n")),
      Some("SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts, " +
        "count(DISTINCT l_suppkey) AS n_supps, count(*) AS n " +
        "FROM lineitem GROUP BY l_returnflag")),

    // approximate count-distinct (HLL++). The estimate itself has no
    // ANSI-SQL equivalent, but its ACCURACY does: emit the exact count
    // and a within-15% boolean, both of which the DuckDB oracle
    // reproduces — exact count directly, the boolean as literal true.
    // Tolerance is 3x the default rsd (5% is a STANDARD DEVIATION, not a
    // bound — a 5% assertion would fail on ~1/3 of groups by data luck
    // alone); 15% makes the check robust across seeds and scale factors
    // while still catching a broken sketch. Turns the approximate
    // aggregate into a hash-checked query instead of rows-only
    // (VERDICT r02 #7).
    QDef("q_approx_distinct",
      (s, d) => {
        val t = Tables(s, d, "lineitem")
        // ONE scan, dedup-then-count (r19; replaces r12's two-scan +
        // join shape): both legs only need the DISTINCT (flag, partkey)
        // pairs — countDistinct(partkey) over the raw rows equals
        // count(partkey) over the deduped pairs, and the HLL sketch is
        // duplicate-insensitive (its registers are a max over hashed
        // ITEMS, so feeding each distinct value once yields the
        // identical sketch and estimate). The distinct's partial
        // aggregation dedups map-side before the exchange, so this is
        // one scan + two exchanges and NO join, vs two scans + two
        // exchanges + a join. NULL groups survive groupBy natively —
        // the old null-safe self-join existed only to reunite the legs.
        val pairs = t.select("l_returnflag", "l_partkey").distinct()
        pairs.groupBy("l_returnflag").agg(
            count(col("l_partkey")).as("exact_parts"),
            approx_count_distinct(col("l_partkey")).as("approx_parts"))
          .select(col("l_returnflag"), col("exact_parts"),
            (abs(col("approx_parts") - col("exact_parts")) /
              col("exact_parts") < 0.15).as("within_tol"))
      },
      Some("SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts, " +
        "true AS within_tol FROM lineitem GROUP BY l_returnflag")),

    // custom sketch aggregate: KMV distinct estimator as a typed
    // Aggregator[IN, BUF, OUT] (graft.functions.KmvDistinct) — bounded
    // k-min-hash buffer, associative/commutative merge, so partial
    // aggregation and shuffle order cannot change the estimate. Oracle
    // checks the exact count plus a within-15% boolean (KmvSpec's
    // tested bound for k=256, ~1/sqrt(k) typical error); tighter
    // accuracy is asserted in KmvSpec.
    QDef("q_kmv_distinct",
      (s, d) => {
        val t = Tables(s, d, "lineitem")
        // ONE scan, dedup-then-count (r19) — q_approx_distinct's
        // reasoning verbatim: the KMV sketch keeps the k smallest
        // hashes of the DISTINCT values (insertion is idempotent per
        // value — KmvSpec's merge laws), so running it over the deduped
        // (flag, partkey) pairs yields the identical estimate with no
        // second scan and no join. The r12 warning about planning the
        // sketch and countDistinct in ONE agg (Expand doubling every
        // input row) doesn't apply here: after the dedup there is no
        // countDistinct left — count(partkey) is a plain aggregate, so
        // no Expand is planned (gated in PlanSpec).
        val pairs = t.select("l_returnflag", "l_partkey").distinct()
        pairs.groupBy("l_returnflag").agg(
            count(col("l_partkey")).as("exact_parts"),
            expr("graft_kmv_distinct(l_partkey, 256)").as("kmv_parts"))
          .select(col("l_returnflag"), col("exact_parts"),
            (abs(col("kmv_parts") - col("exact_parts")) /
              col("exact_parts") < 0.15).as("within_tol"))
      },
      Some("SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts, " +
        "true AS within_tol FROM lineitem GROUP BY l_returnflag")),

    // explicit GROUPING SETS (beyond rollup/cube): mixed granularities in
    // one shuffle, grouping_id disambiguating real nulls from
    // grouping-placeholder nulls in both engines.
    QDef("q_grouping_sets",
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("v_orders_gs")
        // analysis resolves the view eagerly; drop keeps the catalog clean
        try s.sql("SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
          "CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT) " +
          "AS gid FROM v_orders_gs GROUP BY GROUPING SETS (" +
          "(o_orderstatus, o_orderpriority), (o_orderstatus), ())")
        finally s.catalog.dropTempView("v_orders_gs")
      },
      Some("SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
        "CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid " +
        "FROM orders GROUP BY GROUPING SETS (" +
        "(o_orderstatus, o_orderpriority), (o_orderstatus), ())")),

    // custom TypedImperativeAggregate sketch: Misra-Gries heavy hitters
    // over event_type per user-bucket. The sketch is EXACT when distinct
    // values per group <= k (here: a handful of event types vs k=16), so
    // a plain GROUP BY oracle hash-checks it — while the same operator
    // handles million-cardinality columns with bounded memory at 100 TB.
    QDef("q_heavy_hitters",
      (s, d) => {
        Tables.events(s, d)
          .groupBy(expr("user_id % 4").as("bucket"))
          .agg(expr("graft_heavy_hitters(event_type, 16)").as("hh"))
          .select(col("bucket"), explode(col("hh")).as("h"))
          .select(col("bucket"), col("h.item").as("item"),
            col("h.cnt").as("cnt"))
      },
      // WHERE pins null semantics: the sketch skips nulls (count(col)
      // posture), so the oracle must not emit a NULL-item group
      Some("SELECT user_id % 4 AS bucket, event_type AS item, " +
        "count(*) AS cnt FROM events WHERE event_type IS NOT NULL " +
        "GROUP BY 1, 2")),

    // HAVING: post-aggregation filter (frequent buyers).
    QDef("q_having",
      (s, d) => Tables(s, d, "orders")
        .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 15),
      Some("SELECT o_custkey, count(*) AS n_orders FROM orders " +
        "GROUP BY o_custkey HAVING count(*) >= 15")),

    // conditional aggregation (TPC-H Q14 shape): promo revenue share.
    // Both cents-sums accumulate as decimal(38,0)/HUGEINT — the
    // Det.exactSum discipline — then ONE double division: a double
    // accumulator would go partition-order-dependent past 2^53, which a
    // 100 TB revenue sum crosses (the old otherwise(0.0) silently
    // coerced the whole promo sum to double).
    QDef("q_promo_share",
      (s, d) => {
        val li = Tables(s, d, "part")
        // two-level cents aggregation (r19, Det.cents): subgroup sums
        // in exact LONG (≤ 57,344 rows × ~10^9 cents each at any
        // scale), decimal only across subgroups; the conditional promo
        // leg zeroes non-promo rows BEFORE the long sum, exactly as
        // the old per-row decimal shape did. Bit-identical output.
        val cents = floor(col("l_extendedprice") *
          (lit(1) - col("l_discount")) * lit(10000.0) + lit(0.5))
          .cast("long")
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val sub = Tables(s, d, "lineitem")
          .join(broadcast(li), col("l_partkey") === col("p_partkey"))
          .groupBy(year(col("l_shipdate")).as("yr"),
            expr("l_orderkey div 8192").as("_sub"))
          .agg(sum(when(col("p_type") === "PROMO", cents)
              .otherwise(lit(0L))).as("promo"),
            sum(cents).as("all"),
            count(lit(1)).as("cnt"))
        sub.groupBy("yr")
          .agg((sum(dec(col("promo"))).cast("double") * 100.0 /
              sum(dec(col("all"))).cast("double")).as("promo_share_pct"),
            sum("cnt").as("n"))
      },
      Some("SELECT CAST(year(l_shipdate) AS INT) AS yr, " +
        "CAST(sum(CAST(CASE WHEN p_type = 'PROMO' THEN " +
        "floor((l_extendedprice * (1 - l_discount)) * 10000 + 0.5) " +
        "ELSE 0 END AS HUGEINT)) AS DOUBLE) * 100.0 / " +
        "CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) " +
        "* 10000 + 0.5) AS HUGEINT)) AS DOUBLE) " +
        "AS promo_share_pct, count(*) AS n " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "GROUP BY year(l_shipdate)")),

    // rank distributions: percent_rank/cume_dist/nth_value share the
    // (rank-1)/(n-1)-style exact definitions in both engines.
    QDef("q_distribution",
      (s, d) => {
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(col("c_acctbal").asc, col("c_custkey").asc)
        Tables(s, d, "customer").select(
          col("c_mktsegment"), col("c_custkey"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          nth_value(col("c_custkey"), 2).over(
            w.rowsBetween(Window.unboundedPreceding, 0)).as("second_key"))
      },
      Some("SELECT c_mktsegment, c_custkey, " +
        "percent_rank() OVER w AS pr, cume_dist() OVER w AS cd, " +
        "nth_value(c_custkey, 2) OVER (PARTITION BY c_mktsegment " +
        "ORDER BY c_acctbal, c_custkey ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW) AS second_key FROM customer " +
        "WINDOW w AS (PARTITION BY c_mktsegment " +
        "ORDER BY c_acctbal, c_custkey)")),

    // exact interpolated percentiles (both engines use the (n-1)p linear
    // interpolation definition). Computed by SORT, not by Spark's
    // `percentile` aggregate: that aggregate accumulates a value→count
    // map per group and merges the full map in one JVM — at 100 TB the
    // map holds every distinct value of the column. Ranks come from
    // Rank.rangeRanked (Core.scala) — range-sharded two-phase
    // zipWithIndex, NOT a per-group window: l_returnflag has 3 values,
    // so the window form would sort a third of the table in ONE task at
    // any scale. Then a filter to the four boundary ranks and a 4-row
    // interpolation — nothing concentrates beyond a range shard.
    QDef("q_percentile",
      (s, d) => {
        // boundary-rank interpolation: Pctl (Core.scala) — the one shared
        // definition, also used by q_approx_percentile and q_winsorize
        val ranked = graft.Rank.rangeRanked(
          Tables(s, d, "lineitem")
            .select(col("l_returnflag"), col("l_extendedprice")),
          "l_returnflag", Seq("l_extendedprice"))
        val v = col("l_extendedprice")
        ranked
          .filter(Pctl.boundary(Seq(0.5, 0.9), col("rn"), col("n")))
          .groupBy("l_returnflag")
          .agg(max(col("n")).as("n"), // constant per group
            Det.rnd(Pctl.interp(0.5, col("rn"), col("n"), v), 4).as("p50"),
            Det.rnd(Pctl.interp(0.9, col("rn"), col("n"), v), 4).as("p90"))
          .select("l_returnflag", "p50", "p90", "n")
      },
      Some("SELECT l_returnflag, " +
        s"${Det.rndSql("quantile_cont(l_extendedprice, 0.5)", 4)} AS p50, " +
        s"${Det.rndSql("quantile_cont(l_extendedprice, 0.9)", 4)} AS p90, " +
        "count(*) AS n FROM lineitem GROUP BY l_returnflag")),

    // second-moment statistics (variance / correlation) from EXACT
    // integer-cents power sums: built-in var_samp/corr accumulate
    // doubles whose result depends on partition order — useless for a
    // cross-engine hash gate and drift-prone at scale. Sx/Sxx/Sy/Syy/Sxy
    // as decimal(38,0) are exact in any order; the closed-form moments
    // are then a handful of identical double ops on both engines.
    QDef("q_stats_moments",
      (s, d) => {
        // per-row arithmetic in LONG, only the cross-subgroup
        // accumulators in decimal (r19, Det.cents two-level reasoning):
        // px ≤ ~10^7 cents and qy ≤ ~10^2, so every per-row product
        // (px², px·qy, qy²) fits a long with >4 orders of magnitude of
        // headroom, and a (flag, l_orderkey div 4096) subgroup holds
        // ≤ 4096×7 = 28,672 rows AT ANY SCALE — subgroup power sums
        // stay ≤ ~2.9×10^18 < 2^63 (px² is the binding term; 4096, not
        // 8192, for a 3× margin). The old shape paid a BigDecimal
        // read-add-write per row per power sum; now decimal sees one
        // update per SUBGROUP. Bit-identical (integer associativity),
        // same oracle.
        val pxL = floor(col("l_extendedprice") * lit(100.0) + lit(0.5))
          .cast("long")
        val qyL = floor(col("l_quantity") + lit(0.5)).cast("long")
        def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
        val sub = Tables(s, d, "lineitem")
          .groupBy(col("l_returnflag"),
            expr("l_orderkey div 4096").as("_sub"))
          .agg(count(lit(1)).as("n"),
            sum(pxL).as("sx"), sum(pxL * pxL).as("sxx"),
            sum(qyL).as("sy"), sum(qyL * qyL).as("syy"),
            sum(pxL * qyL).as("sxy"))
        val g = sub.groupBy("l_returnflag").agg(
          sum("n").as("n"),
          sum(dec(col("sx"))).as("sx"), sum(dec(col("sxx"))).as("sxx"),
          sum(dec(col("sy"))).as("sy"), sum(dec(col("syy"))).as("syy"),
          sum(dec(col("sxy"))).as("sxy"))
        def dbl(c: String) = col(c).cast("double")
        val n = col("n")
        val varPrice = (dbl("sxx") - dbl("sx") * dbl("sx") / n) /
          (n - 1) / lit(10000.0)
        // each variance factor is mathematically >= 0 but can round to a
        // tiny negative once the power sums pass 2^53 — clamp at 0 on
        // BOTH engines (DuckDB sqrt(<0) ABORTS the query, Spark NaNs)
        val corr = (n * dbl("sxy") - dbl("sx") * dbl("sy")) /
          sqrt(greatest(lit(0.0),
            n * dbl("sxx") - dbl("sx") * dbl("sx")) *
            greatest(lit(0.0), n * dbl("syy") - dbl("sy") * dbl("sy")))
        g.select(col("l_returnflag"), n,
          Det.rnd(dbl("sx") / n / lit(100.0), 4).as("mean_price"),
          Det.rnd(varPrice, 4).as("var_price"),
          Det.rnd(corr, 6).as("corr_qty_price"))
      },
      Some {
        def dbl(c: String) = s"CAST($c AS DOUBLE)"
        val varPrice = s"(${dbl("sxx")} - ${dbl("sx")} * ${dbl("sx")} " +
          "/ n) / (n - 1) / 10000.0"
        val corr = s"(n * ${dbl("sxy")} - ${dbl("sx")} * ${dbl("sy")}) " +
          "/ sqrt(greatest(0.0, " +
          s"n * ${dbl("sxx")} - ${dbl("sx")} * ${dbl("sx")}) * " +
          s"greatest(0.0, n * ${dbl("syy")} - ${dbl("sy")} * ${dbl("sy")}))"
        "WITH g AS (SELECT l_returnflag, count(*) AS n, " +
          "sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS HUGEINT)) " +
          "AS sx, " +
          "sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS HUGEINT) * " +
          "CAST(floor(l_extendedprice * 100.0 + 0.5) AS HUGEINT)) " +
          "AS sxx, " +
          "sum(CAST(floor(l_quantity + 0.5) AS HUGEINT)) AS sy, " +
          "sum(CAST(floor(l_quantity + 0.5) AS HUGEINT) * " +
          "CAST(floor(l_quantity + 0.5) AS HUGEINT)) AS syy, " +
          "sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS HUGEINT) * " +
          "CAST(floor(l_quantity + 0.5) AS HUGEINT)) AS sxy " +
          "FROM lineitem GROUP BY l_returnflag) " +
          "SELECT l_returnflag, n, " +
          s"${Det.rndSql(s"${dbl("sx")} / n / 100.0", 4)} AS mean_price, " +
          s"${Det.rndSql(varPrice, 4)} AS var_price, " +
          s"${Det.rndSql(corr, 6)} AS corr_qty_price FROM g"
      }),

    // approximate percentile (GK/QuantileSummaries sketch — mergeable
    // partials, bounded memory per group; THE percentile to run at
    // 100 TB, where any exact form must shuffle or sort the full
    // column). Oracle-ized like q_approx_distinct: the exact twin is
    // computed in-query only to bound the sketch (rank accuracy 1000
    // over these group sizes keeps relative value error well under 5%)
    // and the emitted columns are the group key, the exact row count,
    // and the within-tolerance verdict — all engine-stable.
    QDef("q_approx_percentile",
      (s, d) => {
        // exact twin via Pctl (Core.scala), the shared boundary-rank
        // interpolation — NOT the built-in `percentile` aggregate, whose
        // per-group value→count map is exactly the shape q_percentile
        // avoids. Ranks via Rank.rangeRanked (no per-group single-task
        // window — q_percentile's reasoning); one aggregate then
        // computes the sketch AND picks the two boundary values. No
        // Pctl.boundary pre-filter here: the sketch needs every row.
        val ranked = graft.Rank.rangeRanked(
          Tables(s, d, "lineitem")
            .select(col("l_returnflag"), col("l_extendedprice")),
          "l_returnflag", Seq("l_extendedprice"))
        val exact = Pctl.interp(0.5, col("rn"), col("n"),
          col("l_extendedprice"))
        ranked.groupBy("l_returnflag").agg(
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
            .as("p50_approx"),
          exact.as("p50_exact"),
          count(lit(1)).as("n"))
          .select(col("l_returnflag"), col("n"),
            (abs(col("p50_approx") - col("p50_exact")) /
              col("p50_exact") < 0.05).as("within_tol"))
      },
      Some("SELECT l_returnflag, count(*) AS n, true AS within_tol " +
        "FROM lineitem GROUP BY l_returnflag")),

    // quantile bucketing: ntile(10) deciles per group — the stratified
    // binning step a training pipeline uses for balanced sampling and
    // skew diagnosis. ntile's uneven-division rule (first n%k buckets
    // take the extra row) is identical in both engines; the ORDER BY
    // carries unique tiebreak keys so the row→bucket assignment is a
    // total order and thus deterministic. The bucket comes from
    // Rank.ntileFromRank over Rank.rangeRanked ranks (Core.scala) —
    // the built-in ntile().over(partitionBy(l_returnflag)) would drag a
    // third of the table through ONE task (3 groups at any scale); the
    // closed-form bucket from the scale-safe rank is value-identical
    // (RangeRankSpec property + the oracle keeps DuckDB's real ntile).
    QDef("q_ntile",
      (s, d) => {
        val ranked = graft.Rank.rangeRanked(
          Tables(s, d, "lineitem")
            .select(col("l_returnflag"), col("l_extendedprice"),
              col("l_orderkey"), col("l_linenumber")),
          "l_returnflag",
          Seq("l_extendedprice", "l_orderkey", "l_linenumber"))
        // Examined r19, deliberately kept as the FULL aggregation: a
        // boundary-rank variant (filter to each decile's ≤2 boundary
        // rows — the Pctl.boundary trick — with the decile count from
        // the closed form q + (d ≤ r)) was built, property-gated and
        // MEASURED WORSE: interleaved min-of-6 at sf0.1 read 0.80 s
        // (this form) vs 0.89 s (boundary form) — the per-row boundary
        // predicate costs what the per-row agg update costs, and the
        // aggregate was never a scale problem anyway (map-side partial
        // aggregation collapses every task's window output to ≤ 30
        // rows before the exchange at any corpus size). First attempt
        // also showed a Catalyst hazard worth recording: a filter
        // phrased against the `decile` alias gets the whole
        // ntileFromRank CASE tree inlined FIVE times by CollapseProject
        // (0.9 → 3.0 s, expression size not data).
        // Spark ntile is INT, DuckDB's BIGINT — long either way here
        ranked
          .withColumn("decile",
            graft.Rank.ntileFromRank(10, col("rn"), col("n")))
          .groupBy("l_returnflag", "decile")
          .agg(count(lit(1)).as("n"),
            min("l_extendedprice").as("lo"),
            max("l_extendedprice").as("hi"))
      },
      Some("SELECT l_returnflag, decile, count(*) AS n, " +
        "min(l_extendedprice) AS lo, max(l_extendedprice) AS hi " +
        "FROM (SELECT l_returnflag, l_extendedprice, " +
        "ntile(10) OVER (PARTITION BY l_returnflag " +
        "ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS decile " +
        "FROM lineitem) GROUP BY l_returnflag, decile")),

    // grouping sets: ROLLUP.
    QDef("q_rollup",
      (s, d) => Tables(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus")).agg(
          sum("l_quantity").as("sum_qty"), // integral doubles: exact
          count(lit(1)).as("n")),
      Some("SELECT l_returnflag, l_linestatus, " +
        "sum(l_quantity) AS sum_qty, count(*) AS n " +
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)")),

    // grouping sets: CUBE.
    QDef("q_cube",
      (s, d) => Tables(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority")).agg(
          Det.exactSum(col("o_totalprice"), 2).as("total"),
          count(lit(1)).as("n")),
      Some("SELECT o_orderstatus, o_orderpriority, " +
        s"${Det.exactSumSql("o_totalprice", 2)} AS total, count(*) AS n " +
        "FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)")),

    // ranking window functions; rank ties are well-defined on both engines.
    QDef("q_rank",
      (s, d) => {
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(col("c_acctbal").desc)
        Tables(s, d, "customer").select(
          col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"))
          .filter(col("rnk") <= 5)
      },
      Some("SELECT * FROM (SELECT c_mktsegment, c_custkey, c_acctbal, " +
        "CAST(rank() OVER w AS INT) AS rnk, " +
        "CAST(dense_rank() OVER w AS INT) AS drnk FROM customer " +
        "WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC)) " +
        "WHERE rnk <= 5")),

    // lead/lag/ntile with explicit tiebreak order.
    QDef("q_lead_lag",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, d).select(
          col("event_id"), col("user_id"),
          lag("value", 1).over(w).as("prev_value"),
          lead("value", 1).over(w).as("next_value"),
          ntile(4).over(w).as("quartile"))
      },
      Some("SELECT event_id, user_id, " +
        "lag(value) OVER w AS prev_value, " +
        "lead(value) OVER w AS next_value, " +
        "CAST(ntile(4) OVER w AS INT) AS quartile FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)")),

    // frame-spec aggregates: 7-row moving sum (mirrors the reference's
    // *_smoothed input columns) + running cumulative total.
    QDef("q_running_sum",
      (s, d) => {
        // integer-cents frame sums: engines disagree on frame-sum
        // association (Spark re-sums the frame, DuckDB uses a segment
        // tree) so sum exact integers instead — order-independent.
        val ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val cents = floor(col("value") * lit(100.0) + lit(0.5)).cast("double")
        Tables.events(s, d).select(
          col("event_id"), col("user_id"), col("ts"),
          (sum(cents).over(ord.rowsBetween(-6, 0)) / lit(100.0)).as("mv7"),
          (sum(cents).over(
            ord.rowsBetween(Window.unboundedPreceding, 0)) / lit(100.0))
            .as("cum"))
      },
      Some("SELECT event_id, user_id, ts, " +
        "sum(floor(value * 100 + 0.5)) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) " +
        "/ 100 AS mv7, " +
        "sum(floor(value * 100 + 0.5)) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "CURRENT ROW) / 100 AS cum FROM events")),

    // RANGE frame: trailing 1-hour event-time sum per user — value-based
    // frames complement the row-based ones above (mv7/cum). Ordering by
    // epoch micros keeps the range arithmetic integer-exact.
    QDef("q_window_range",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(unix_micros(col("ts")))
          .rangeBetween(-3600000000L, 0)
        val cents = floor(col("value") * lit(100.0) + lit(0.5)).cast("double")
        Tables.events(s, d).select(
          col("event_id"), col("user_id"), col("ts"),
          (sum(cents).over(w) / lit(100.0)).as("sum_1h"),
          count(lit(1)).over(w).as("n_1h"))
      },
      Some("SELECT event_id, user_id, ts, " +
        "sum(floor(value * 100 + 0.5)) OVER w / 100 AS sum_1h, " +
        "count(*) OVER w AS n_1h FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) " +
        "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)")),

    // A3/W2: dedup keep-last by key. pandas keep="last" is file order
    // (ETL_OMS_FINAL_Upgraded.py:102); here the order is explicit
    // (ts desc, event_id desc) so the result is well-defined.
    QDef("q_dedup_keeplast",
      (s, d) => {
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts").desc, col("event_id").desc)
        Tables.events(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("user_id", "event_type", "event_id", "ts", "value")
      },
      Some("SELECT user_id, event_type, event_id, ts, value FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY user_id, event_type " +
        "ORDER BY ts DESC, event_id DESC) AS rn FROM events) WHERE rn = 1")),

    // sessionization: 30-min-gap session ids via two chained windows on
    // one user_id shuffle, then per-session rollup — the batch shape of
    // stateful stream sessionization (flatMapGroupsWithState's batch twin).
    QDef("q_sessionize",
      (s, d) => {
        val ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val us = unix_micros(col("ts"))
        val gap = us - lag(us, 1).over(ord)
        Tables.events(s, d)
          .withColumn("new_sess",
            when(gap.isNull || gap > 1800000000L, 1).otherwise(0))
          .withColumn("session_id", sum("new_sess")
            .over(ord.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "session_id")
          .agg(count(lit(1)).as("n_events"),
            min("ts").as("session_start"),
            max("ts").as("session_end"))
      },
      Some("SELECT user_id, session_id, count(*) AS n_events, " +
        "min(ts) AS session_start, max(ts) AS session_end FROM (" +
        "SELECT user_id, ts, CAST(sum(new_sess) OVER (" +
        "PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
        "AS session_id FROM (" +
        "SELECT user_id, ts, event_id, CASE WHEN " +
        "lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, " +
        "event_id) IS NULL OR epoch_us(ts) - lag(epoch_us(ts)) OVER (" +
        "PARTITION BY user_id ORDER BY ts, event_id) > 1800000000 " +
        "THEN 1 ELSE 0 END AS new_sess FROM events)) " +
        "GROUP BY user_id, session_id")),

    // ordered funnel (view → click-after-view → purchase-after-click):
    // three chained conditional-min windows over ONE user_id shuffle,
    // then a global stage-count rollup — the event-analytics composite
    // that a row-at-a-time engine does with per-user loops.
    QDef("q_funnel",
      (s, d) => {
        val w = Window.partitionBy("user_id")
        val per = Tables.events(s, d)
          .withColumn("t1",
            min(when(col("event_type") === "view", col("ts"))).over(w))
          .withColumn("t2", min(when(col("event_type") === "click" &&
            col("ts") >= col("t1"), col("ts"))).over(w))
          .withColumn("t3", min(when(col("event_type") === "purchase" &&
            col("ts") >= col("t2"), col("ts"))).over(w))
          .select("user_id", "t1", "t2", "t3").distinct()
        per.agg(count(col("t1")).as("n_view"),
          count(col("t2")).as("n_click_after_view"),
          count(col("t3")).as("n_purchase_after_click"),
          count(lit(1)).as("n_users"))
      },
      Some("SELECT count(t1) AS n_view, " +
        "count(t2) AS n_click_after_view, " +
        "count(t3) AS n_purchase_after_click, count(*) AS n_users FROM (" +
        "SELECT DISTINCT user_id, t1, t2, t3 FROM (" +
        "SELECT user_id, t1, t2, min(CASE WHEN event_type = 'purchase' " +
        "AND ts >= t2 THEN ts END) OVER (PARTITION BY user_id) AS t3 " +
        "FROM (SELECT user_id, ts, event_type, t1, " +
        "min(CASE WHEN event_type = 'click' AND ts >= t1 THEN ts END) " +
        "OVER (PARTITION BY user_id) AS t2 " +
        "FROM (SELECT user_id, ts, event_type, " +
        "min(CASE WHEN event_type = 'view' THEN ts END) " +
        "OVER (PARTITION BY user_id) AS t1 FROM events))))")),

    // cohort retention: users bucketed by first-seen month, activity
    // counted per week offset — one user_id window to stamp the cohort,
    // one shuffle to aggregate (cohort_month, offset).
    QDef("q_cohort",
      (s, d) => Tables.events(s, d)
        .withColumn("cohort_day",
          min(to_date(col("ts"))).over(Window.partitionBy("user_id")))
        .withColumn("offset_wk",
          expr("CAST(datediff(to_date(ts), cohort_day) div 7 AS INT)"))
        .groupBy(trunc(col("cohort_day"), "month").as("cohort_month"),
          col("offset_wk"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events")),
      Some("SELECT date_trunc('month', cohort_day) AS cohort_month, " +
        "offset_wk, count(DISTINCT user_id) AS n_users, " +
        "count(*) AS n_events FROM (" +
        "SELECT user_id, CAST(datediff('day', cohort_day, " +
        "CAST(ts AS DATE)) // 7 AS INT) AS offset_wk, cohort_day FROM (" +
        "SELECT user_id, ts, min(CAST(ts AS DATE)) " +
        "OVER (PARTITION BY user_id) AS cohort_day FROM events)) " +
        "GROUP BY 1, 2")),

    // native session_window (SessionWindowing operator — distinct from
    // the two-window q_sessionize formulation): Spark MERGES an event
    // arriving at exactly last + gap (probed empirically on 4.1.2:
    // events at 00:00 and 00:30 with a 30-min gap form ONE session), so
    // the oracle starts a new session only on gap STRICTLY greater than
    // 30min. The fixture has no exact-gap pairs, so only the boundary
    // convention — not the fixture result — distinguishes the two.
    QDef("q_session_window",
      (s, d) => Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
          min("ts").as("first_ts"), max("ts").as("last_ts"))
        .select(col("user_id"),
          col("session_window.start").as("w_start"),
          col("session_window.end").as("w_end"),
          col("n_events"), col("first_ts"), col("last_ts")),
      Some("SELECT user_id, min(ts) AS w_start, " +
        "max(ts) + INTERVAL 30 MINUTE AS w_end, " +
        "count(*) AS n_events, min(ts) AS first_ts, max(ts) AS last_ts " +
        "FROM (SELECT user_id, ts, CAST(sum(new_sess) OVER (" +
        "PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
        "AS session_id FROM (" +
        "SELECT user_id, ts, event_id, CASE WHEN " +
        "lag(epoch_us(ts)) OVER w IS NULL OR " +
        "epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 " +
        "THEN 1 ELSE 0 END AS new_sess FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))) " +
        "GROUP BY user_id, session_id")),

    // histogram: explicit-arithmetic bucketing (identical double ops on
    // both engines) + count per bucket — the data-profiling building
    // block.
    QDef("q_histogram",
      (s, d) => Tables(s, d, "orders")
        .groupBy(floor(col("o_totalprice") / lit(50000.0)).cast("int")
          .as("bucket"))
        .agg(count(lit(1)).as("n"),
          Det.exactSum(col("o_totalprice"), 2).as("total")),
      Some("SELECT CAST(floor(o_totalprice / 50000.0) AS INT) AS bucket, " +
        "count(*) AS n, " +
        s"${Det.exactSumSql("o_totalprice", 2)} AS total " +
        "FROM orders GROUP BY CAST(floor(o_totalprice / 50000.0) AS INT)")),

    // column profiling: count/nulls/distinct/min/max/avg per group — the
    // data-quality summary every ingest pipeline runs first.
    QDef("q_profile",
      (s, d) => Tables(s, d, "documents").groupBy("lang").agg(
        count(lit(1)).as("n_rows"),
        count(col("text")).as("n_nonnull"),
        countDistinct(col("source")).as("n_sources"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"),
        (sum("n_chars").cast("double") / count(lit(1))).as("avg_chars")),
      Some("SELECT lang, count(*) AS n_rows, count(text) AS n_nonnull, " +
        "count(DISTINCT source) AS n_sources, " +
        "min(n_chars) AS min_chars, max(n_chars) AS max_chars, " +
        "CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars " +
        "FROM documents GROUP BY lang")),

    // A6: surrogate-key assignment (id_pays = index+1,
    // ETL_OMS_FINAL.py:76). pandas index order is nondeterministic across
    // inputs; ids are defined by sort order instead. The unpartitioned
    // window is fine for dimension-sized data; at 100 TB scale assign ids
    // via zipWithIndex or hashing, never a single-partition window.
    QDef("q_surrogate_ids",
      (s, d) => Tables(s, d, "nation")
        .select(col("n_name").as("nom_pays")).distinct()
        .withColumn("id_pays", row_number().over(Window.orderBy("nom_pays"))),
      Some("SELECT nom_pays, CAST(row_number() OVER (ORDER BY nom_pays) " +
        "AS INT) AS id_pays FROM " +
        "(SELECT DISTINCT n_name AS nom_pays FROM nation)"))
  )
}
