package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType}
import graft.{Det, Q}
import graft.Det.{Dec0, Dec12}
import graft.sources.Tables

/** Aggregations — SURVEY.md §2.D.
  *
  * Reference semantics: national/state totals per year, the weighted-rate
  * computation (evictions / renter-households · 100, aggregated by summing
  * numerator and denominator separately — NEVER avg-of-rates), the long→wide
  * pivot that builds tile attributes (`er-00`…`er-16`), quantile breaks for
  * choropleth legends, per-feature bboxes, and search-index lists
  * [ref:rate computation, wide-table build, breaks (H/M) — SURVEY.md §0].
  *
  * Scale posture: every aggregate here is a partial/final HashAggregate
  * (map-side combine first, one shuffle on the group keys). Pivot uses an
  * explicit value list so the schema is deterministic and no extra pass to
  * collect pivot values is needed. Exact percentile is kept for oracle
  * parity; `percentile_approx` is the documented 100 TB swap (§7.3).
  */
object Aggregates {

  /** TPC-H-Q1-style multi-aggregate (national totals analog). */
  val qAggHash = Q(
    "q_agg_hash",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") <= lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          Det.dsum(col("l_quantity")).as("sum_qty"),
          Det.dsum(col("l_extendedprice")).as("sum_base"),
          Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc"),
          Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
            (lit(1.0) + col("l_tax"))).as("sum_charge"),
          Det.davg(col("l_quantity")).as("avg_qty"),
          Det.davg(col("l_extendedprice")).as("avg_px"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus"),
    Some(s"""SELECT l_returnflag, l_linestatus,
                    ${Det.sqlSum("l_quantity")} AS sum_qty,
                    ${Det.sqlSum("l_extendedprice")} AS sum_base,
                    ${Det.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc,
                    ${Det.sqlSum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
                    ${Det.sqlAvg("l_quantity")} AS avg_qty,
                    ${Det.sqlAvg("l_extendedprice")} AS avg_px,
                    count(*) AS n
             FROM lineitem
             WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
             GROUP BY l_returnflag, l_linestatus
             ORDER BY l_returnflag, l_linestatus"""))

  /** Signature reference semantic: weighted rate =
    * 100·sum(numerator)/sum(denominator), null-safe on zero denominator.
    */
  val qAggWeightedRate = Q(
    "q_agg_weighted_rate",
    (s, dir) => {
      val num = Det.dsum(col("l_extendedprice") * col("l_discount"))
      val den = Det.dsum(col("l_extendedprice"))
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), year(col("l_shipdate")).as("yr"))
        .agg(num.as("num"), den.as("den"))
        .select(col("l_returnflag"), col("yr"),
          when(col("den") === 0.0, lit(null).cast(DoubleType))
            .otherwise(lit(100.0) * (col("num") / col("den"))).as("rate"))
        .orderBy("l_returnflag", "yr")
    },
    Some(s"""SELECT l_returnflag, yr,
                    CASE WHEN den = 0.0 THEN NULL
                         ELSE 100.0 * (num / den) END AS rate
             FROM (SELECT l_returnflag,
                          CAST(year(l_shipdate) AS INTEGER) AS yr,
                          ${Det.sqlSum("l_extendedprice * l_discount")} AS num,
                          ${Det.sqlSum("l_extendedprice")} AS den
                   FROM lineitem GROUP BY l_returnflag, yr)
             ORDER BY l_returnflag, yr"""))

  /** Exact distinct counts (distinct GEOIDs per level analog). */
  val qAggDistinct = Q(
    "q_agg_distinct",
    (s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
             count(lit(1)).as("n"))
        .orderBy("o_orderstatus"),
    Some("""SELECT o_orderstatus, count(DISTINCT o_custkey) AS n_cust,
                   count(*) AS n
            FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** HLL++ approximate distinct — the 100 TB path for q_agg_distinct.
    * Oracle since r19 (r18 verdict #6): the estimate VALUE is
    * engine-internal (Spark's HLL++ can never be rebuilt in DuckDB),
    * but its accuracy CONTRACT can ride the driver's hash gate — the
    * query emits the exact distinct, the row count, and the unit
    * test's ±5% bound as a column (approx_count_distinct is
    * deterministic at fixed rsd — a pinned-seed sketch — so the
    * boolean is stable); the oracle emits the exact values and the
    * literal 1. An estimator drifting outside its published bound is
    * now a driver-visible hash mismatch. The raw estimate stays
    * observable via q_sketch_hll_portable's oracled twin.
    */
  val qAggApproxDistinct = Q(
    "q_agg_approx_distinct",
    (s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderstatus")
        .agg(approx_count_distinct(col("o_custkey"), 0.02).as("n_cust_approx"),
             countDistinct(col("o_custkey")).as("n_cust_exact"),
             count(lit(1)).as("n"))
        .select(col("o_orderstatus"), col("n_cust_exact"), col("n"),
          (abs(col("n_cust_approx").cast("double")
              - col("n_cust_exact").cast("double"))
            <= lit(0.05) * col("n_cust_exact").cast("double"))
            .cast("int").as("approx_within_5pct"))
        .orderBy("o_orderstatus"),
    Some("""SELECT o_orderstatus,
                   CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust_exact,
                   count(*) AS n,
                   CAST(1 AS INTEGER) AS approx_within_5pct
            FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** 2-D histogram (heatmap binning) — the joint-distribution readout
    * behind every density heatmap (the 1-D q_agg_histogram shows each
    * margin; the 2-D grid shows the CORRELATION STRUCTURE a margin
    * hides): quantity × price binned on exact integer axes (quantity is
    * already integral; price in exact cents DIV 1 000 000, i.e.
    * $10,000-wide bins — pure integer
    * bucket math, no float boundaries), count + exact revenue cents per
    * cell. One map-side-combinable aggregate on the bounded grid key.
    */
  val qAggHistogram2d = Q(
    "q_agg_histogram_2d",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .select(expr("CAST(l_quantity AS BIGINT) DIV 10").as("qty_bin"),
          expr(s"${Det.sqlCents("l_extendedprice")} DIV 1000000")
            .as("price_bin"),
          Det.cents("l_extendedprice").as("c"))
        .groupBy("qty_bin", "price_bin")
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sum_cents"))
        .orderBy("qty_bin", "price_bin"),
    Some(s"""SELECT CAST(l_quantity AS BIGINT) // 10 AS qty_bin,
                   ${Det.sqlCents("l_extendedprice")} // 1000000
                     AS price_bin,
                   count(*) AS n,
                   CAST(SUM(${Det.sqlCents("l_extendedprice")}) AS BIGINT)
                     AS sum_cents
            FROM lineitem
            GROUP BY 1, 2 ORDER BY qty_bin, price_bin"""))

  /** MERGEABLE distinct-count sketches across shards — the incremental-
    * rollup shape that makes approximate distinct USEFUL at 100 TB
    * (q_agg_approx_distinct computes one estimate in one pass; real
    * pipelines store a per-shard/per-day SKETCH and merge at query time,
    * so yesterday's partitions are never rescanned). ORACLE-CERTIFIED
    * since r19 (r18 verdict #6) by bridging the shard-merge algebra to
    * the PORTABLE HLL the way r16 bridged percentile_approx to the
    * oracled histogram: the value path builds per-(flag, shard)
    * m=256 register tables (the stored sketch — reg = pHash60 mod 256,
    * ρ = 1 + trailing zeros of the remaining bits, exactly
    * q_sketch_hll_portable's construction), merges at query time by
    * register MAX across shards (the semilattice law, now exercised
    * grouped and certified value-for-value by DuckDB), and estimates
    * per flag on the all-integer 2^(53−ρ) carrier. The DataSketches
    * path (hll_sketch_agg per shard → hll_union_agg → estimate, the
    * binary format Druid/Hive-style stores exchange) still runs IN the
    * query and is certified through the hash gate as a BOOLEAN:
    * ds_certified = 1 iff the sharded-merge estimate lands within ±5%
    * of the exact distinct — the oracle emits the literal 1, so drift
    * is a driver-visible hash mismatch, not just a unit-test failure.
    * Deliberately NOT certified: union-estimate ≡ direct-estimate for
    * DataSketches — that held at the spec's tiny sf (both sketches
    * exact in coupon mode) but is no API law; at sf0.01 the union path
    * reads 1991 where the direct build reads 2019 (mode-transition
    * history differs). EXACT merge algebra is certified where it truly
    * is exact: the portable register max-merge above, value-oracled.
    * Scale: both sketch paths are map-side-combinable two-level
    * aggregates over ≤ flags×shards×256 rows; the exact countDistinct
    * is the certification truth path (production keeps the registers).
    */
  val qAggHllShards = Q(
    "q_agg_hll_shards",
    (s, dir) => {
      val base = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
          pmod(col("l_orderkey"), lit(8)).as("shard"), col("l_partkey"))
      // per-(flag, shard) portable register table — the stored sketch
      val shardRegs = base
        .select(col("flag"), col("shard"),
          graft.Det.pHash60(col("l_partkey")).as("h"))
        .select(col("flag"), col("shard"),
          pmod(col("h"), lit(256)).as("reg"), expr("h div 256").as("w"))
        .select(col("flag"), col("shard"), col("reg"), expr(
          "CASE WHEN w = 0 THEN 53 ELSE CAST(round(log2(" +
            "CAST((w & (-w)) AS DOUBLE))) AS INTEGER) + 1 END").as("rho"))
        .groupBy("flag", "shard", "reg").agg(max(col("rho")).as("rho_max"))
      // query-time merge: register max across shards (the semilattice)
      val merged = shardRegs.groupBy("flag", "reg")
        .agg(max(col("rho_max")).as("rho_max"))
      // per-flag estimate — q_sketch_hll_portable's shared text, grouped
      val est = merged.groupBy("flag")
        .agg(count(lit(1)).as("n_present"),
          sum(expr("shiftleft(CAST(1 AS BIGINT), 53 - rho_max)"))
            .as("sn_p"))
        .select(col("flag"), col("n_present"),
          expr("sn_p + (256 - n_present) * 9007199254740992").as("sn"))
        .select(col("flag"), col("n_present"), expr(
          "CAST(0.7213 AS DOUBLE) / (CAST(1 AS DOUBLE)" +
            " + CAST(1.079 AS DOUBLE) / CAST(256 AS DOUBLE))" +
            " * CAST(65536 AS DOUBLE) * CAST(9007199254740992 AS DOUBLE)" +
            " / CAST(sn AS DOUBLE)").as("est_raw"))
        .select(col("flag"), expr(
          "CASE WHEN est_raw <= CAST(640 AS DOUBLE) AND n_present < 256" +
            " THEN round(CAST(256 AS DOUBLE) * ln(CAST(256 AS DOUBLE)" +
            " / CAST(256 - n_present AS DOUBLE)), 6)" +
            " ELSE round(est_raw, 6) END").as("n_parts_est"))
      val nsh = shardRegs.select("flag", "shard").distinct()
        .groupBy("flag").agg(count(lit(1)).as("n_shards"))
      val exact = base.groupBy("flag")
        .agg(countDistinct(col("l_partkey")).as("n_parts_exact"))
      val ds = base.groupBy("flag", "shard")
        .agg(expr("hll_sketch_agg(l_partkey, 12)").as("sk"))
        .groupBy("flag")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))")
          .as("ds_sharded"))
      est.join(nsh, "flag").join(exact, "flag").join(ds, "flag")
        .select(col("flag"), col("n_shards"), col("n_parts_est"),
          col("n_parts_exact"),
          expr("CAST(abs(CAST(ds_sharded AS DOUBLE)" +
            " - CAST(n_parts_exact AS DOUBLE))" +
            " <= CAST(0.05 AS DOUBLE)" +
            " * CAST(n_parts_exact AS DOUBLE) AS INT)")
            .as("ds_certified"))
        .orderBy("flag")
    },
    Some {
      val h = graft.Det.sqlPHash60("l_partkey")
      s"""WITH src AS (SELECT l_returnflag AS flag,
                     ((l_orderkey % 8) + 8) % 8 AS shard,
                     ($h) AS h, l_partkey
                   FROM lineitem),
              rr AS (SELECT flag, shard, ((h % 256) + 256) % 256 AS reg,
                       CASE WHEN h // 256 = 0 THEN 53 ELSE
                         CAST(round(log2(CAST(((h // 256) & (-(h // 256)))
                           AS DOUBLE))) AS INTEGER) + 1 END AS rho
                     FROM src),
              sregs AS (SELECT flag, shard, reg, max(rho) AS rho_max
                        FROM rr GROUP BY 1, 2, 3),
              merged AS (SELECT flag, reg, max(rho_max) AS rho_max
                         FROM sregs GROUP BY 1, 2),
              summ AS (SELECT flag, CAST(count(*) AS BIGINT) AS n_present,
                         CAST(sum(CAST(1 AS BIGINT) << (53 - rho_max))
                           AS BIGINT) AS sn_p
                       FROM merged GROUP BY flag),
              sn AS (SELECT flag, n_present,
                       sn_p + (256 - n_present) * 9007199254740992 AS sn
                     FROM summ),
              er AS (SELECT flag, n_present,
                       CAST(0.7213 AS DOUBLE) / (CAST(1 AS DOUBLE)
                         + CAST(1.079 AS DOUBLE) / CAST(256 AS DOUBLE))
                         * CAST(65536 AS DOUBLE)
                         * CAST(9007199254740992 AS DOUBLE)
                         / CAST(sn AS DOUBLE) AS est_raw
                     FROM sn),
              e AS (SELECT flag,
                      CASE WHEN est_raw <= CAST(640 AS DOUBLE)
                             AND n_present < 256
                        THEN round(CAST(256 AS DOUBLE)
                          * ln(CAST(256 AS DOUBLE)
                               / CAST(256 - n_present AS DOUBLE)), 6)
                        ELSE round(est_raw, 6) END AS n_parts_est
                    FROM er),
              nsh AS (SELECT flag,
                        CAST(count(DISTINCT shard) AS BIGINT) AS n_shards
                      FROM src GROUP BY flag),
              ex AS (SELECT flag,
                       CAST(count(DISTINCT l_partkey) AS BIGINT)
                         AS n_parts_exact
                     FROM src GROUP BY flag)
            SELECT e.flag, n_shards, n_parts_est, n_parts_exact,
                   CAST(1 AS INTEGER) AS ds_certified
            FROM e JOIN nsh ON e.flag = nsh.flag
                   JOIN ex ON e.flag = ex.flag
            ORDER BY e.flag"""
    })

  /** Pythagorean means + RMS — the mean family beyond the arithmetic one
    * (geometric = the only correct average of ratios/growth rates,
    * harmonic = the only correct average of rates per unit, RMS = the
    * energy/magnitude mean): per flag over price, each as ONE shared
    * formula over order-free decimal term sums (ln terms Dec12-quantized
    * — the engines' ln() last-ulp split; reciprocals Dec12-quantized for
    * the same reason as a sum carrier; squares exact integer cents², the
    * covar doctrine); the exp() final is round-6 fenced — at ~1e4
    * magnitudes 12 decimals is FINER than a double ulp, so a Dec12 cast
    * absorbs nothing there. One map-side-combinable aggregate.
    */
  val qAggMeanVariants = Q(
    "q_agg_mean_variants",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
          col("l_extendedprice").as("v"),
          Det.cents("l_extendedprice").as("c"))
        .groupBy("flag")
        .agg(count(lit(1)).as("n"),
          Det.davg(col("v")).as("mean_arith"),
          sum(expr("CAST(ln(v) AS DECIMAL(38,12))")).cast("double")
            .as("sln"),
          sum(expr("CAST(1.0 / v AS DECIMAL(38,12))")).cast("double")
            .as("srec"),
          sum(col("c").cast(Dec0) * col("c").cast(Dec0)).cast("double")
            .as("ssq"))
        .select(col("flag"), col("n"), col("mean_arith"),
          // round-6, not Dec12: at ~4e4 magnitude 12 decimals is FINER
          // than a double ulp, so a Dec12 cast absorbs nothing — the
          // engines' exp() last-ulp split needs a coarser fence
          expr("round(exp(sln / CAST(n AS DOUBLE)), 6)").as("mean_geo"),
          expr("CAST(n AS DOUBLE) / srec").as("mean_harm"),
          expr("sqrt(ssq / CAST(n AS DOUBLE)) / CAST(100.0 AS DOUBLE)")
            .as("mean_rms"))
        .orderBy("flag")
    },
    Some(s"""WITH b AS (SELECT l_returnflag AS flag, l_extendedprice AS v,
                    ${Det.sqlCents("l_extendedprice")} AS c
                  FROM lineitem),
             m AS (SELECT flag, count(*) AS n,
                    ${Det.sqlAvg("v")} AS mean_arith,
                    CAST(sum(CAST(ln(v) AS DECIMAL(38,12))) AS DOUBLE)
                      AS sln,
                    CAST(sum(CAST(1.0 / v AS DECIMAL(38,12))) AS DOUBLE)
                      AS srec,
                    CAST(sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT))
                      AS DOUBLE) AS ssq
                  FROM b GROUP BY flag)
            SELECT flag, n, mean_arith,
                   round(exp(sln / CAST(n AS DOUBLE)), 6) AS mean_geo,
                   CAST(n AS DOUBLE) / srec AS mean_harm,
                   sqrt(ssq / CAST(n AS DOUBLE)) / CAST(100.0 AS DOUBLE)
                     AS mean_rms
            FROM m ORDER BY flag"""))

  /** Rollup subtotals (county→state→national aggregation analog). */
  val qAggRollup = Q(
    "q_agg_rollup",
    (s, dir) => {
      // False positive: DetectAmbiguousSelfJoin flags rollup's Expand over a
      // broadcast-join lineage even with freshly aliased columns. The check
      // only fires at DataFrame construction, so disable it just while this
      // plan is analyzed and restore the previous value — the shared session
      // keeps the guard for every other query.
      // CAVEAT: session confs are session-global, not thread-local — this
      // toggle is safe under the driver's sequential query loop (the t2
      // contract) but NOT under concurrent query construction on one
      // session; a concurrent harness must serialize builds or use
      // per-thread sessions (spark.newSession()).
      val key = "spark.sql.analyzer.failAmbiguousSelfJoin"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "false")
      try Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name").as("rname"), col("n_name").as("nname"),
          col("c_acctbal").as("bal_in"))
        .rollup("rname", "nname")
        .agg(count(lit(1)).as("n"), Det.dsum(col("bal_in")).as("bal"),
          grouping(col("rname")).cast(IntegerType).as("gr"),
          grouping(col("nname")).cast(IntegerType).as("gn"))
        .select(col("rname").as("r_name"), col("nname").as("n_name"),
          col("n"), col("bal"), col("gr"), col("gn"))
        .orderBy(col("gr"), col("gn"),
          col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
      finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
    },
    Some(s"""SELECT r_name, n_name, count(*) AS n,
                    ${Det.sqlSum("c_acctbal")} AS bal,
                    CAST(GROUPING(r_name) AS INTEGER) AS gr,
                    CAST(GROUPING(n_name) AS INTEGER) AS gn
             FROM customer
             JOIN nation ON c_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
             GROUP BY ROLLUP(r_name, n_name)
             ORDER BY gr, gn, r_name NULLS FIRST, n_name NULLS FIRST"""))

  /** Cube over (year, priority) — all margin combinations. */
  val qAggCube = Q(
    "q_agg_cube",
    (s, dir) =>
      Tables.orders(s, dir)
        .select(year(col("o_orderdate")).as("yr"), col("o_orderpriority"))
        .cube("yr", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          grouping(col("yr")).cast(IntegerType).as("gy"),
          grouping(col("o_orderpriority")).cast(IntegerType).as("gp"))
        .orderBy(col("gy"), col("gp"),
          col("yr").asc_nulls_first, col("o_orderpriority").asc_nulls_first),
    Some("""SELECT yr, o_orderpriority, count(*) AS n,
                   CAST(GROUPING(yr) AS INTEGER) AS gy,
                   CAST(GROUPING(o_orderpriority) AS INTEGER) AS gp
            FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
                         o_orderpriority FROM orders)
            GROUP BY CUBE(yr, o_orderpriority)
            ORDER BY gy, gp, yr NULLS FIRST, o_orderpriority NULLS FIRST"""))

  /** Explicit GROUPING SETS (Spark 4 Dataset API): per-year totals and
    * per-priority totals in one pass — the margins-only slice of the cube.
    */
  val qAggGroupingSets = Q(
    "q_agg_grouping_sets",
    (s, dir) =>
      Tables.orders(s, dir)
        .select(year(col("o_orderdate")).as("yr"), col("o_orderpriority"),
          col("o_totalprice"))
        .groupingSets(
          Seq(Seq(col("yr")), Seq(col("o_orderpriority"))),
          col("yr"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), Det.dsum(col("o_totalprice")).as("total"))
        .orderBy(col("yr").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first),
    Some(s"""SELECT yr, o_orderpriority, count(*) AS n,
                    ${Det.sqlSum("o_totalprice")} AS total
             FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
                          o_orderpriority, o_totalprice FROM orders)
             GROUP BY GROUPING SETS ((yr), (o_orderpriority))
             ORDER BY yr NULLS FIRST, o_orderpriority NULLS FIRST"""))

  private val pivotYears = 1995 to 2001

  /** THE reference reshape: long→wide by year (tile attrs `er-00`…`er-16`).
    * Explicit pivot value list → deterministic schema, no value-discovery
    * pass.
    */
  val qAggPivot = Q(
    "q_agg_pivot",
    (s, dir) => {
      val wide = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .pivot(year(col("o_orderdate")), pivotYears)
        .agg(Det.dsum(col("o_totalprice")))
      pivotYears.foldLeft(wide) { (df, y) =>
        df.withColumnRenamed(y.toString, s"y$y")
      }.orderBy("n_name")
    },
    Some {
      val cols = pivotYears.map(y =>
        s"""CAST(SUM(CASE WHEN year(o_orderdate) = $y
              THEN CAST(o_totalprice AS DECIMAL(38,6)) END) AS DOUBLE) AS y$y""")
        .mkString(",\n                    ")
      s"""SELECT n_name, $cols
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation   ON c_nationkey = n_nationkey
          GROUP BY n_name ORDER BY n_name"""
    })

  /** Wide→long (data-download unbalanced CSVs) — inverse of the pivot. */
  val qAggUnpivot = Q(
    "q_agg_unpivot",
    (s, dir) => {
      val wide = qAggPivot.fn(s, dir)
      wide.unpivot(
          Array(col("n_name")),
          pivotYears.map(y => col(s"y$y")).toArray,
          "yr_col", "rev")
        .where(col("rev").isNotNull)
        .orderBy("n_name", "yr_col")
    },
    Some {
      val base = qAggPivot.oracle.get
      val arms = pivotYears.map(y =>
        s"SELECT n_name, 'y$y' AS yr_col, y$y AS rev FROM wide WHERE y$y IS NOT NULL")
        .mkString("\n             UNION ALL ")
      s"""WITH wide AS ($base)
          SELECT * FROM ($arms)
          ORDER BY n_name, yr_col"""
    })

  /** Exact interpolated percentiles (choropleth legend breaks analog).
    * Exact `percentile` (not approx) to match DuckDB `quantile_cont`;
    * round(6) absorbs last-ulp interpolation differences.
    */
  val qAggPercentile = Q(
    "q_agg_percentile",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 6).as("p25"),
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.75)"), 6).as("p75"),
          round(expr("percentile(l_quantity, 0.95)"), 6).as("p95"))
        .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
                   round(quantile_cont(l_quantity, 0.25), 6) AS p25,
                   round(quantile_cont(l_quantity, 0.5), 6) AS p50,
                   round(quantile_cont(l_quantity, 0.75), 6) AS p75,
                   round(quantile_cont(l_quantity, 0.95), 6) AS p95
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Winsorized mean — the robust location estimate finance/metrics
    * pipelines report when a handful of fat-tail rows would otherwise own
    * the average (MAD despikes, trimmed/winsorized means re-center):
    * per-group exact P05/P95 price fences (the q_agg_percentile surface,
    * rounded to 6 decimals so the FENCE is engine-identical), every value
    * clipped into [p05, p95] by one least/greatest expression, and the
    * clipped mean via the §7.2 decimal sum next to the raw mean for
    * contrast, plus the clipped-row census. Scale: the fences are a
    * 3-row broadcast back onto the fact scan; the mean is one map-side-
    * combinable aggregate (the exact percentile itself carries the
    * documented percentile_approx swap at 100 TB).
    */
  val qAggWinsorize = Q(
    "q_agg_winsorize",
    (s, dir) => {
      val fences = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("flag"))
        .agg(round(expr("percentile(l_extendedprice, 0.05)"), 6).as("p05"),
          round(expr("percentile(l_extendedprice, 0.95)"), 6).as("p95"))
      Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
          col("l_extendedprice").as("v"))
        .join(broadcast(fences), "flag")
        .withColumn("cv", expr("least(greatest(v, p05), p95)"))
        .groupBy("flag")
        .agg(count(lit(1)).as("n"),
          sum(when(col("v") < col("p05") || col("v") > col("p95"), 1L)
            .otherwise(0L)).as("n_clipped"),
          Det.davg(col("v")).as("mean_raw"),
          Det.davg(col("cv")).as("mean_winsor"))
        .orderBy("flag")
    },
    Some(s"""WITH fences AS (SELECT l_returnflag AS flag,
                    round(quantile_cont(l_extendedprice, 0.05), 6) AS p05,
                    round(quantile_cont(l_extendedprice, 0.95), 6) AS p95
                  FROM lineitem GROUP BY 1),
             v AS (SELECT l_returnflag AS flag, l_extendedprice AS v
                   FROM lineitem)
            SELECT v.flag, count(*) AS n,
                   CAST(sum(CASE WHEN v < p05 OR v > p95 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_clipped,
                   ${Det.sqlAvg("v")} AS mean_raw,
                   ${Det.sqlAvg("least(greatest(v, p05), p95)")}
                     AS mean_winsor
            FROM v JOIN fences ON v.flag = fences.flag
            GROUP BY v.flag ORDER BY v.flag"""))

  /** The 100 TB swap for q_agg_percentile — SURVEY.md §7.3's documented
    * scale variant, now a query instead of prose. Exact `percentile` sorts
    * every group's values; `percentile_approx` (Greenwald-Khanna / KLL-style
    * mergeable summary) is one pass with bounded state and rank error
    * ≤ n/accuracy. ORACLE-CERTIFIED since r20 (r19 verdict #4) the
    * q_agg_approx_distinct way: the approx VALUE is engine-internal (the
    * summary's merge order can never be rebuilt in DuckDB), but its rank
    * CONTRACT rides the driver's hash gate — the query emits the exact
    * interpolated percentiles (the q_agg_percentile surface, DuckDB
    * quantile_cont-matching under round 6) plus a certificate per target:
    * the approx value must land between the exact q∓0.002 quantiles, a
    * rank window 20× the n/10000 guarantee (and generous to the
    * value-vs-interpolation semantic gap: percentile_approx returns a
    * data point, the window ends interpolate). The oracle emits the
    * exact legs and the literal 1s, so an estimator drifting outside its
    * published bound is a driver-visible hash mismatch. The raw estimate
    * stays pinned by ConsistencySpec/R16Spec on its own aggregation.
    */
  val qAggPercentileApprox = Q(
    "q_agg_percentile_approx",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
            .as("pa50"),
          percentile_approx(col("l_extendedprice"), lit(0.95), lit(10000))
            .as("pa95"),
          round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50_exact"),
          round(expr("percentile(l_extendedprice, 0.95)"), 6)
            .as("p95_exact"),
          expr("percentile(l_extendedprice, 0.498)").as("lo50"),
          expr("percentile(l_extendedprice, 0.502)").as("hi50"),
          expr("percentile(l_extendedprice, 0.948)").as("lo95"),
          expr("percentile(l_extendedprice, 0.952)").as("hi95"))
        .select(col("l_returnflag"), col("p50_exact"), col("p95_exact"),
          (col("pa50") >= col("lo50") && col("pa50") <= col("hi50"))
            .cast("int").as("p50_in_rank_bound"),
          (col("pa95") >= col("lo95") && col("pa95") <= col("hi95"))
            .cast("int").as("p95_in_rank_bound"))
        .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.5), 6)
                     AS p50_exact,
                   round(quantile_cont(l_extendedprice, 0.95), 6)
                     AS p95_exact,
                   CAST(1 AS INTEGER) AS p50_in_rank_bound,
                   CAST(1 AS INTEGER) AS p95_in_rank_bound
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Fixed-width histogram (choropleth legend-distribution analog): revenue
    * binned at $10 000. Binning happens in EXACT INTEGER CENTS with integer
    * division (same doctrine as q_agg_corr) — a float `floor((x-lo)/w)`
    * puts edge values one ulp either side of the bin boundary per engine,
    * integer DIV cannot. Bounded key space (11 bins), full map-side
    * combine, one shuffle.
    */
  val qAggHistogram = Q(
    "q_agg_histogram",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .select(round(col("l_extendedprice") * 100).cast(DecimalType(18, 0))
          .cast(org.apache.spark.sql.types.LongType).as("c"))
        .select(expr("c DIV 1000000").as("bin"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"))
        .select(col("bin"), col("n"),
          (col("bin").cast(DoubleType) * 10000.0).as("lo"),
          ((col("bin") + 1).cast(DoubleType) * 10000.0).as("hi"))
        .orderBy("bin"),
    Some(s"""SELECT bin, count(*) AS n,
                   CAST(bin AS DOUBLE) * 10000.0 AS lo,
                   CAST(bin + 1 AS DOUBLE) * 10000.0 AS hi
            FROM (SELECT ${Det.sqlRoundCents("l_extendedprice")}
                           // 1000000 AS bin
                  FROM lineitem)
            GROUP BY bin ORDER BY bin"""))

  /** Per-group min/max pairs — bbox [w,s,e,n] analog. The corners are
    * emitted as four scalar columns, not an ARRAY: the driver's compare
    * loads results into pandas and list-typed cells crash its sort/hash
    * step (round-1 lesson), and four named doubles carry the identical
    * information.
    */
  val qAggMinmaxBbox = Q(
    "q_agg_minmax_bbox",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(min(col("l_quantity")).as("bb_w"),
             min(col("l_extendedprice")).as("bb_s"),
             max(col("l_quantity")).as("bb_e"),
             max(col("l_extendedprice")).as("bb_n"))
        .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
                   min(l_quantity) AS bb_w, min(l_extendedprice) AS bb_s,
                   max(l_quantity) AS bb_e, max(l_extendedprice) AS bb_n
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Deterministic sorted list per group (typeahead index analog), emitted
    * as a '|'-joined string — same reason as q_agg_minmax_bbox: list cells
    * break the driver-side pandas hash.
    */
  val qAggCollectSorted = Q(
    "q_agg_collect_sorted",
    (s, dir) =>
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(array_join(sort_array(collect_list(col("c_name"))), "|")
             .as("names"),
             count(lit(1)).as("n"))
        .orderBy("n_name"),
    Some("""SELECT n_name, string_agg(c_name, '|' ORDER BY c_name) AS names,
                   count(*) AS n
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name"""))

  /** Correlation + sample covariance per group, DETERMINISTICALLY: Spark's
    * native corr/covar_samp accumulate doubles in partition order (no
    * cross-engine or cross-parallelism stability), so both moments are
    * rebuilt from exact power sums and combined with a fixed IEEE formula
    * both engines evaluate identically. The sums are taken in INTEGER CENTS
    * (l_quantity is integral, l_extendedprice is a 2-decimal amount, so
    * round(x*100) is an exact integer ≤1e8 in both engines): DECIMAL(18,0)
    * cents, DECIMAL(37,0) products, DECIMAL(38,0) sums — exact end-to-end
    * with no float→decimal quantization anywhere. A scale-6 decimal cast of
    * the raw doubles (the r5 formulation) quantizes l_extendedprice² (~1e10)
    * right where Spark's shortest-repr and DuckDB's exact-expansion
    * double→decimal roundings diverge, which breaks the hash oracle at
    * larger scale factors; integer cents sidesteps the cast entirely.
    * Same single-shuffle two-phase agg shape as any groupBy — the six sums
    * all fold map-side.
    */
  val qAggCorr = Q(
    "q_agg_corr",
    (s, dir) => {
      val cents = DecimalType(18, 0)
      val qc = round(col("l_quantity") * 100).cast(cents)
      val pc = round(col("l_extendedprice") * 100).cast(cents)
      val nd = col("n").cast(DoubleType)
      val sx = col("sxc").cast(DoubleType) / 100.0
      val sy = col("syc").cast(DoubleType) / 100.0
      val sxy = col("sxyc").cast(DoubleType) / 10000.0
      val sxx = col("sxxc").cast(DoubleType) / 10000.0
      val syy = col("syyc").cast(DoubleType) / 10000.0
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(qc).as("sxc"), sum(pc).as("syc"),
          sum(qc * pc).as("sxyc"),
          sum(qc * qc).as("sxxc"),
          sum(pc * pc).as("syyc"))
        .select(col("l_returnflag"), col("n"),
          round((nd * sxy - sx * sy) /
            (sqrt(nd * sxx - sx * sx) * sqrt(nd * syy - sy * sy)), 6)
            .as("corr_qty_price"),
          round((sxy - sx * sy / nd) / (nd - 1), 6)
            .as("cov_qty_price"))
        .orderBy("l_returnflag")
    },
    Some {
      def c(e: String) = s"SUM(CAST(round(($e) * 100) AS DECIMAL(18,0)))"
      def cc(a: String, b: String) =
        s"SUM(CAST(round(($a) * 100) AS DECIMAL(18,0)) * " +
          s"CAST(round(($b) * 100) AS DECIMAL(18,0)))"
      s"""SELECT l_returnflag, n,
                round((nd * sxy - sx * sy)
                  / (sqrt(nd * sxx - sx * sx)
                     * sqrt(nd * syy - sy * sy)), 6) AS corr_qty_price,
                round((sxy - sx * sy / nd) / (nd - 1), 6) AS cov_qty_price
         FROM (SELECT l_returnflag, n, CAST(n AS DOUBLE) AS nd,
                      CAST(sxc AS DOUBLE) / 100.0 AS sx,
                      CAST(syc AS DOUBLE) / 100.0 AS sy,
                      CAST(sxyc AS DOUBLE) / 10000.0 AS sxy,
                      CAST(sxxc AS DOUBLE) / 10000.0 AS sxx,
                      CAST(syyc AS DOUBLE) / 10000.0 AS syy
               FROM (SELECT l_returnflag, count(*) AS n,
                            ${c("l_quantity")} AS sxc,
                            ${c("l_extendedprice")} AS syc,
                            ${cc("l_quantity", "l_extendedprice")} AS sxyc,
                            ${cc("l_quantity", "l_quantity")} AS sxxc,
                            ${cc("l_extendedprice", "l_extendedprice")} AS syyc
                     FROM lineitem GROUP BY l_returnflag))
         ORDER BY l_returnflag"""
    })

  /** Statistical mode per group with a DETERMINISTIC tie-break (highest
    * count, then smallest value) — Spark has no mode() and DuckDB's
    * mode() leaves ties unspecified, so both sides spell the same
    * count-then-rank formulation. Two-shuffle shape: value-count agg, then
    * a tiny per-group window over the distinct values.
    */
  val qAggMode = Q(
    "q_agg_mode",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag"))
        .orderBy(col("cnt").desc, col("l_quantity"))
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_quantity")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
          col("cnt").as("n_at_mode"))
        .orderBy("l_returnflag")
    },
    Some("""SELECT l_returnflag, l_quantity AS mode_qty, cnt AS n_at_mode
            FROM (SELECT l_returnflag, l_quantity, count(*) AS cnt,
                         row_number() OVER (PARTITION BY l_returnflag
                           ORDER BY count(*) DESC, l_quantity) AS rk
                  FROM lineitem GROUP BY l_returnflag, l_quantity)
            WHERE rk = 1 ORDER BY l_returnflag"""))

  /** Incremental-rollup MERGE: per-month PARTIAL aggregate states (count,
    * exact-cents sum, min, max — each mergeable by construction) re-merged
    * into final per-priority totals, hash-matched against the ORACLE'S
    * one-shot aggregation. This is the semantic heart of a 100 TB rollup
    * pipeline: a new day/month computes ONLY its own partial and the final
    * is a merge of stored partials, never a full recompute — the identity
    * `merge(partials) ≡ aggregate(all rows)` is exactly what this query
    * certifies cross-engine. The partial table is the persistence seam
    * (`Incremental.materialize` per month-partition at scale); in-plan here
    * so the bench measures the merge shape, not parquet IO.
    *
    * Each state component must be associative+commutative AND exact:
    * count/min/max trivially, the sum in integer cents (a double sum would
    * make partial→final order observable). avg is DERIVED at the end from
    * (sum, count) — never stored — one IEEE division in both engines.
    */
  val qAggIncrMerge = Q(
    "q_agg_incr_merge",
    (s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderpriority"),
          date_trunc("month", col("o_orderdate")).as("m"),
          round(col("o_totalprice") * 100).cast(DecimalType(18, 0))
            .cast(org.apache.spark.sql.types.LongType).as("cents"))
        .groupBy("o_orderpriority", "m")
        .agg(count(lit(1)).as("p_n"), sum(col("cents")).as("p_sum"),
          min(col("cents")).as("p_min"), max(col("cents")).as("p_max"))
        .groupBy("o_orderpriority")
        .agg(sum(col("p_n")).as("n_orders"),
          sum(col("p_sum")).as("sum_cents"),
          min(col("p_min")).as("min_cents"),
          max(col("p_max")).as("max_cents"))
        .select(col("o_orderpriority"), col("n_orders"),
          col("sum_cents"), col("min_cents"), col("max_cents"),
          (col("sum_cents").cast(DoubleType) /
            col("n_orders").cast(DoubleType) / 100.0).as("avg_price"))
        .orderBy("o_orderpriority"),
    Some(s"""SELECT o_orderpriority, count(*) AS n_orders,
                   CAST(sum(cents) AS BIGINT) AS sum_cents,
                   min(cents) AS min_cents, max(cents) AS max_cents,
                   CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     / 100.0 AS avg_price
            FROM (SELECT o_orderpriority,
                         ${Det.sqlRoundCents("o_totalprice")} AS cents
                  FROM orders)
            GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Cohort retention — the standard product-analytics matrix: customers
    * grouped by first-order month (the cohort), counted again at each
    * month-offset they remain active. Calendar-month arithmetic is done in
    * integer (year·12 + month) space so both engines bucket identically
    * (float month differences round differently at DST/length boundaries).
    * Distinct (customer, month) activity BEFORE the count turns
    * count-distinct into a plain count — one dedup shuffle, then a
    * bounded-key (cohorts × offsets) aggregation.
    */
  val qCohortRetention = Q(
    "q_cohort_retention",
    (s, dir) => {
      val orders = Tables.orders(s, dir)
      val cohort = orders.groupBy("o_custkey")
        .agg(min(date_trunc("month", col("o_orderdate"))).as("cohort"))
      val active = orders
        .select(col("o_custkey"),
          date_trunc("month", col("o_orderdate")).as("m"))
        .distinct()
      cohort.join(active, Seq("o_custkey"))
        .select(col("cohort"),
          ((year(col("m")) * 12 + month(col("m"))) -
            (year(col("cohort")) * 12 + month(col("cohort"))))
            .cast(org.apache.spark.sql.types.IntegerType).as("months_since"))
        .groupBy("cohort", "months_since")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("cohort", "months_since")
    },
    Some("""WITH fo AS (SELECT o_custkey,
                   min(date_trunc('month', o_orderdate)) AS cohort
                 FROM orders GROUP BY o_custkey),
                 act AS (SELECT DISTINCT o_custkey,
                   date_trunc('month', o_orderdate) AS m
                 FROM orders)
            SELECT cohort,
                   CAST((year(m) * 12 + month(m)) -
                        (year(cohort) * 12 + month(cohort)) AS INTEGER)
                     AS months_since,
                   count(*) AS n_customers
            FROM fo JOIN act USING (o_custkey)
            GROUP BY cohort, months_since
            ORDER BY cohort, months_since"""))

  /** ARGMAX via struct max — the deterministic form of max_by: plain
    * `max_by(x, y)` is unspecified on ties in both engines (Spark returns
    * an arbitrary tied row, a cross-engine hash-mismatch waiting to
    * happen); `max(struct(y, tiebreak, x))` makes the winner total-ordered
    * and stays a single two-phase aggregate (mergeable, no window, no
    * second pass). Cents-exact value, orderkey tiebreak, fields unpacked
    * at the edge (§7.2: no struct columns in t2 output).
    */
  val qAggArgmax = Q(
    "q_agg_argmax",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast(DecimalType(18, 0))
            .cast(org.apache.spark.sql.types.LongType).as("cents"),
          col("l_orderkey"), col("l_partkey"))
        .groupBy("l_returnflag")
        .agg(max(struct(col("cents"), col("l_orderkey"), col("l_partkey")))
          .as("top"))
        .select(col("l_returnflag"), col("top.cents").as("max_cents"),
          col("top.l_orderkey").as("at_orderkey"),
          col("top.l_partkey").as("at_partkey"))
        .orderBy("l_returnflag"),
    Some(s"""SELECT l_returnflag,
                   (top).cents AS max_cents,
                   (top).l_orderkey AS at_orderkey,
                   (top).l_partkey AS at_partkey
            FROM (SELECT l_returnflag,
                         max(ROW(${Det.sqlRoundCents("l_extendedprice")},
                                 l_orderkey, l_partkey)
                             ::STRUCT(cents BIGINT, l_orderkey BIGINT,
                                      l_partkey BIGINT)) AS top
                  FROM lineitem GROUP BY l_returnflag)
            ORDER BY l_returnflag"""))

  /** MULTIPLE distinct aggregates in one pass — a physical-plan path of
    * its own: Spark rewrites n distinct aggregates into an Expand (one
    * replicated row-group per distinct clause, gid-tagged) + two-phase
    * aggregation, so the query costs one shuffle-pipeline instead of n
    * self-joined single-distinct queries. Count-distinct customers,
    * distinct priorities and a plain sum per order-month — the mixed
    * distinct/non-distinct combination is exactly what forces Expand.
    */
  val qAggDistinctMulti = Q(
    "q_agg_distinct_multi",
    (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(countDistinct(col("o_custkey")).as("n_custs"),
          countDistinct(col("o_orderpriority")).as("n_prios"),
          count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast(DecimalType(18, 0))
            .cast(org.apache.spark.sql.types.LongType)).as("sum_cents"))
        .orderBy("m"),
    Some(s"""SELECT date_trunc('month', o_orderdate) AS m,
                   count(DISTINCT o_custkey) AS n_custs,
                   count(DISTINCT o_orderpriority) AS n_prios,
                   count(*) AS n_orders,
                   CAST(sum(${Det.sqlRoundCents("o_totalprice")})
                     AS BIGINT) AS sum_cents
            FROM orders GROUP BY m ORDER BY m"""))

  /** Higher-moment distribution profile (skewness + excess kurtosis) per
    * group — the shape statistics a data-quality monitor tracks to catch
    * drift that mean/stddev miss. Decomposition: raw power sums S1..S4
    * over the INTEGRAL quantity column as exact longs (order-independent,
    * mergeable — one two-phase aggregate, no second pass for central
    * moments), finals assembled in doubles. The final formula text is
    * generated ONCE and injected into BOTH the Spark expr() and the DuckDB
    * SQL, so the IEEE op sequence is identical by construction (the JL
    * doctrine) — no rounding needed. m2^1.5 is spelled m2*sqrt(m2)
    * because sqrt is correctly rounded IEEE in both engines while pow's
    * last ulp is libm-dependent.
    */
  private[graft] val momentFinals: (String, String) = {
    val mean = "(s1 / n)"
    val m2 = s"(s2 / n - $mean * $mean)"
    // degenerate groups (constant column → m2 = 0) must surface as NULL,
    // not the NaN a bare 0/0 division emits — the CASE guard is part of
    // the shared formula text so both engines take the identical branch
    val skew = s"(CASE WHEN $m2 > 0 THEN " +
      s"((s3 / n - 3.0 * $mean * (s2 / n) + " +
      s"2.0 * $mean * $mean * $mean) / ($m2 * sqrt($m2))) END)"
    val kurt = s"(CASE WHEN $m2 > 0 THEN " +
      s"((s4 / n - 4.0 * $mean * (s3 / n) + " +
      s"6.0 * $mean * $mean * (s2 / n) - " +
      s"3.0 * $mean * $mean * $mean * $mean) / ($m2 * $m2) - 3.0) END)"
    (skew, kurt)
  }

  val qAggSkewKurt = Q(
    "q_agg_skew_kurt",
    (s, dir) => {
      val (skewF, kurtF) = momentFinals
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          col("l_quantity").cast(org.apache.spark.sql.types.LongType)
            .as("q"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).cast(DoubleType).as("n"),
          sum(col("q")).cast(DoubleType).as("s1"),
          sum(col("q") * col("q")).cast(DoubleType).as("s2"),
          sum(col("q") * col("q") * col("q")).cast(DoubleType).as("s3"),
          sum(col("q") * col("q") * col("q") * col("q"))
            .cast(DoubleType).as("s4"))
        .select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
          expr(skewF).as("skewness"), expr(kurtF).as("kurtosis"))
        .orderBy("l_returnflag")
    },
    Some {
      val (skewF, kurtF) = momentFinals
      s"""WITH ms AS (SELECT l_returnflag,
                    CAST(count(*) AS DOUBLE) AS n,
                    CAST(sum(q) AS DOUBLE) AS s1,
                    CAST(sum(q * q) AS DOUBLE) AS s2,
                    CAST(sum(q * q * q) AS DOUBLE) AS s3,
                    CAST(sum(q * q * q * q) AS DOUBLE) AS s4
             FROM (SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q
                   FROM lineitem)
             GROUP BY l_returnflag)
          SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
                 $skewF AS skewness, $kurtF AS kurtosis
          FROM ms ORDER BY l_returnflag"""
    })

  /** Median absolute deviation per group — the robust dispersion statistic
    * (outlier-insensitive, unlike stddev). Two exact medians over integer
    * cents: group median, then median of |cents − median|. Both medians
    * interpolate at p=0.5 over integers, so every intermediate double is a
    * half-integer — exact in both engines, no rounding. The second pass
    * joins the 3-row median table back (broadcast at any scale: one row
    * per group key); at 100 TB swap the exact percentile for
    * percentile_approx as documented in §7.3.
    */
  val qAggMad = Q(
    "q_agg_mad",
    (s, dir) => {
      val cents = Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast(DecimalType(18, 0))
            .cast(org.apache.spark.sql.types.LongType).as("c"))
      val med = cents.groupBy("l_returnflag")
        .agg(expr("percentile(c, 0.5)").as("med"))
      cents.join(broadcast(med), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(first(col("med")).as("median_cents"),
          expr("percentile(abs(c - med), 0.5)").as("mad_cents"))
        .orderBy("l_returnflag")
    },
    Some(s"""WITH c AS (SELECT l_returnflag,
                   ${Det.sqlRoundCents("l_extendedprice")} AS c
                 FROM lineitem),
            m AS (SELECT l_returnflag, quantile_cont(c, 0.5) AS med
                  FROM c GROUP BY l_returnflag)
            SELECT c.l_returnflag, first(m.med) AS median_cents,
                   quantile_cont(abs(c.c - m.med), 0.5) AS mad_cents
            FROM c JOIN m USING (l_returnflag)
            GROUP BY c.l_returnflag ORDER BY c.l_returnflag"""))

  /** Time-series resample to per-(user, day) OHLC bars — the downsampling
    * shape every metrics store runs (open/close via the struct-min/max
    * argmax doctrine of q_agg_argmax: (ts, event_id) prefix makes the
    * selection deterministic under ties; high/low are plain min/max). One
    * two-phase aggregate on bounded keys, integer cents throughout.
    */
  val qTimeOhlc = Q(
    "q_time_ohlc",
    (s, dir) =>
      Tables.events(s, dir)
        .where(col("event_type") === "purchase")
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("ts"), col("event_id"),
          round(col("value") * 100).cast(DecimalType(18, 0))
            .cast(org.apache.spark.sql.types.LongType).as("c"))
        .groupBy("user_id", "day")
        .agg(count(lit(1)).as("n_trades"),
          min(struct(col("ts"), col("event_id"), col("c"))).as("ofirst"),
          max(struct(col("ts"), col("event_id"), col("c"))).as("olast"),
          max(col("c")).as("high_cents"), min(col("c")).as("low_cents"))
        .select(col("user_id"), col("day").cast("string").as("day"),
          col("n_trades"), col("ofirst.c").as("open_cents"),
          col("olast.c").as("close_cents"),
          col("high_cents"), col("low_cents"))
        .orderBy("user_id", "day"),
    Some(s"""SELECT user_id, CAST(CAST(ts_day AS DATE) AS VARCHAR) AS day,
                   count(*) AS n_trades,
                   (min(ROW(ts, event_id, c)
                      ::STRUCT(ts TIMESTAMP, event_id BIGINT, c BIGINT))).c
                     AS open_cents,
                   (max(ROW(ts, event_id, c)
                      ::STRUCT(ts TIMESTAMP, event_id BIGINT, c BIGINT))).c
                     AS close_cents,
                   max(c) AS high_cents, min(c) AS low_cents
            FROM (SELECT user_id, CAST(ts AS DATE) AS ts_day, ts, event_id,
                         ${Det.sqlRoundCents("value")} AS c
                  FROM events WHERE event_type = 'purchase')
            GROUP BY user_id, ts_day ORDER BY user_id, day"""))

  /** Column-level data profiling of the orders table — null counts,
    * distinct cardinalities and min/max per column, the summary every
    * ingestion pipeline materializes before accepting a drop. Two
    * branches, both pure HashAggregate pipelines, joined on the 6-row
    * output:
    *  - distinct/null counts: the columns MELT to (col_name, value) rows
    *    (stringification is injective for these exact types) and
    *    two-level-aggregate on narrow keys — n_distinct = group count,
    *    n_nonnull = sum of group sizes, both map-side combinable;
    *  - min/max: one single-row aggregate over native types (cast to
    *    string only at the edge).
    * NOT the single-pass mixed countDistinct+min/max aggregate: Spark's
    * multi-distinct rewrite with string min/max buffers degrades to
    * SortAggregate — two GLOBAL SORTS of the 7×-Expanded corpus (measured
    * 3.5 s at sf0.1 vs 0.4 s for this shape; at 100 TB the sorts are the
    * difference between a profiling pass and a cluster-wide re-sort).
    * Values are stringified only from exact types (longs, strings, dates,
    * integer cents) — double→text formatting is engine-divergent and never
    * enters the output.
    */
  val qProfileColumns = Q(
    "q_profile_columns",
    (s, dir) => {
      val o = Tables.orders(s, dir)
        .withColumn("price_cents",
          round(col("o_totalprice") * 100).cast(DecimalType(18, 0))
            .cast(org.apache.spark.sql.types.LongType))
        .withColumn("order_day", to_date(col("o_orderdate")))
      val profiled = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority", "price_cents", "order_day")
      val melt = profiled.map(c => s"'$c', CAST($c AS STRING)")
        .mkString(s"stack(${profiled.size}, ", ", ", ")")
      val counts = o
        .select(expr(s"$melt AS (col_name, val)"))
        .groupBy("col_name", "val").agg(count(col("val")).as("cnt"))
        .groupBy("col_name")
        .agg(sum(when(col("val").isNotNull, col("cnt")).otherwise(0L))
            .as("n_nonnull"),
          count(col("val")).as("n_distinct"))
      val mm = profiled.flatMap { c =>
        Seq(min(col(c)).cast("string").as(s"${c}_mn"),
          max(col(c)).cast("string").as(s"${c}_mx"))
      }
      val mmStack = profiled.map { c => s"'$c', ${c}_mn, ${c}_mx" }
        .mkString(s"stack(${profiled.size}, ", ", ", ")")
      val minmax = o.agg(count(lit(1)).as("n_total"), mm: _*)
        .select(col("n_total"),
          expr(s"$mmStack AS (col_name, min_value, max_value)"))
      counts.join(broadcast(minmax), "col_name")
        .select(col("col_name"), col("n_total"),
          (col("n_total") - col("n_nonnull")).as("n_null"),
          col("n_distinct"), col("min_value"), col("max_value"))
        .orderBy("col_name")
    },
    Some {
      val cols = Seq(
        ("o_orderkey", "o_orderkey"),
        ("o_custkey", "o_custkey"),
        ("o_orderstatus", "o_orderstatus"),
        ("o_orderpriority", "o_orderpriority"),
        ("price_cents", Det.sqlRoundCents("o_totalprice")),
        ("order_day", "CAST(o_orderdate AS DATE)"))
      cols.map { case (n, e) =>
        s"""SELECT '$n' AS col_name, count(*) AS n_total,
                   count(*) - count($e) AS n_null,
                   count(DISTINCT $e) AS n_distinct,
                   CAST(min($e) AS VARCHAR) AS min_value,
                   CAST(max($e) AS VARCHAR) AS max_value
            FROM orders"""
      }.mkString("", " UNION ALL ", " ORDER BY col_name")
    })

  /** Gini coefficient of order value per priority class — the inequality
    * metric (is revenue concentrated in a few large orders?) monitoring
    * dashboards track. Mean-difference form over ascending ranks:
    * G = (2·Σ rᵢ·xᵢ)/(n·Σ xᵢ) − (n+1)/n, with xᵢ integer cents ranked by
    * (cents, orderkey) — a TOTAL order, so rᵢ is deterministic under
    * ties. Σ rᵢ·xᵢ stays an exact BIGINT (r ≤ 10⁸ rows · x ≤ 10⁹ cents
    * per row bounds each term < 2⁶³ headroom at the tested scales; at
    * true 100 TB row counts switch the product column to DECIMAL(38,0));
    * the final three divisions are shared formula text → bit-exact, no
    * rounding. One window + one two-phase aggregate, both on the bounded
    * priority key.
    */
  private val giniFinal =
    "(CAST(2 AS DOUBLE) * CAST(srx AS DOUBLE)) / " +
      "(CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)) - " +
      "(CAST(n AS DOUBLE) + CAST(1 AS DOUBLE)) / CAST(n AS DOUBLE)"

  val qAggGini = Q(
    "q_agg_gini",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderpriority")
        .orderBy(col("cents"), col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_orderpriority"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast(DecimalType(18, 0))
            .cast(org.apache.spark.sql.types.LongType).as("cents"))
        .withColumn("r", row_number().over(w).cast("long"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("cents")).as("sx"),
          sum(col("r") * col("cents")).as("srx"))
        .select(col("o_orderpriority"), col("n"),
          col("sx").as("sum_cents"), expr(giniFinal).as("gini"))
        .orderBy("o_orderpriority")
    },
    Some(s"""WITH ranked AS (SELECT o_orderpriority,
                    ${Det.sqlRoundCents("o_totalprice")} AS cents,
                    CAST(row_number() OVER (PARTITION BY o_orderpriority
                      ORDER BY ${Det.sqlRoundCents("o_totalprice")},
                               o_orderkey) AS BIGINT) AS r
                  FROM orders),
             sums AS (SELECT o_orderpriority, count(*) AS n,
                        CAST(sum(cents) AS BIGINT) AS sx,
                        CAST(sum(r * cents) AS BIGINT) AS srx
                      FROM ranked GROUP BY o_orderpriority)
             SELECT o_orderpriority, n, sx AS sum_cents,
                    $giniFinal AS gini
             FROM sums ORDER BY o_orderpriority"""))

  /** Ordered string aggregation (SQL LISTAGG / string_agg) — the report
    * surface for "all members of the group, comma-joined". Spelled as
    * array_join ∘ array_sort ∘ collect_list so the element ORDER is part
    * of the operator (a bare listagg is unspecified under parallel
    * aggregation — the same determinism trap as max_by); Spark's sorted
    * spelling ≡ DuckDB's `string_agg(x ORDER BY x)`.
    */
  val qAggStringAgg = Q(
    "q_agg_string_agg",
    (s, dir) =>
      Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_nations"),
          expr("array_join(array_sort(collect_list(n_name)), ',')")
            .as("nations"))
        .orderBy("r_name"),
    Some("""SELECT r_name, count(*) AS n_nations,
                   string_agg(n_name, ',' ORDER BY n_name) AS nations
            FROM nation JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name"""))

  /** Boolean + bitwise aggregate families (SQL bool_and/bool_or,
    * bit_and/bit_or/bit_xor) — constraint summaries ("every order paid?")
    * and flag-set unions in one pass. All five are exact, commutative and
    * order-independent, so no determinism machinery is needed; the flag
    * word packs three order facts into an int to exercise multi-bit
    * merges.
    */
  val qAggBoolBit = Q(
    "q_agg_bool_bit",
    (s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderpriority"),
          (col("o_totalprice") > 1000.0).as("big"),
          (when(col("o_orderstatus") === "F", 1).otherwise(0) +
            when(col("o_totalprice") > 100000.0, 2).otherwise(0) +
            when(col("o_custkey") % 2 === 0, 4).otherwise(0)).as("flags"))
        .groupBy("o_orderpriority")
        .agg(bool_and(col("big")).as("all_big"),
          bool_or(col("big")).as("any_big"),
          bit_and(col("flags")).as("flags_and"),
          bit_or(col("flags")).as("flags_or"),
          bit_xor(col("flags")).as("flags_xor"))
        .orderBy("o_orderpriority"),
    Some("""SELECT o_orderpriority,
                   bool_and(big) AS all_big, bool_or(big) AS any_big,
                   bit_and(flags) AS flags_and, bit_or(flags) AS flags_or,
                   bit_xor(flags) AS flags_xor
            FROM (SELECT o_orderpriority, o_totalprice > 1000.0 AS big,
                         (CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END +
                          CASE WHEN o_totalprice > 100000.0 THEN 2 ELSE 0
                          END +
                          CASE WHEN o_custkey % 2 = 0 THEN 4 ELSE 0 END)
                           AS flags
                  FROM orders)
            GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  // lift / two-proportion z-score over the four exact counts — ONE formula
  // text per output column, evaluated by both engines on identical integer
  // operands (divisions and sqrt are the only inexact steps; sqrt is
  // correctly rounded everywhere, §7.2)
  private val abP0 = "CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE)"
  private val abP1 = "CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
  private val abPp = "CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)"
  // degenerate designs (no conversions, or everyone converts) have no
  // defined lift/z — NULL via the same CASE text in both engines, never
  // a divide-by-zero (ANSI) or an Inf/NaN hash mismatch
  private val abLift =
    s"CASE WHEN c0 = 0 THEN NULL ELSE (($abP1) - ($abP0)) / ($abP0) END"
  private val abZ =
    s"CASE WHEN c0 + c1 = 0 OR c0 + c1 = n0 + n1 THEN NULL ELSE " +
      s"(($abP1) - ($abP0)) / sqrt(($abPp) * (CAST(1.0 AS DOUBLE) - ($abPp))" +
      s" * (CAST(1.0 AS DOUBLE) / CAST(n0 AS DOUBLE)" +
      s" + CAST(1.0 AS DOUBLE) / CAST(n1 AS DOUBLE))) END"

  /** A/B experiment readout — the two-proportion test an experimentation
    * pipeline runs on every flag flip: users split into deterministic
    * arms (user_id parity — no rand(), §7.2 rule 6), per-arm user-level
    * conversion (≥1 purchase event), then lift and the pooled two-
    * proportion z-score. The four underlying counts are exact distinct
    * counts (one pass, conditional COUNT DISTINCT ×4 via the Expand
    * rewrite — bounded by the 2×2 design, not the event volume); every
    * derived number is a shared formula over those integers. Scale: one
    * corpus scan into a 1-row result; the distinct shuffle carries
    * user_ids only.
    */
  val qAbLift = Q(
    "q_ab_lift",
    (s, dir) => {
      // conversion = a purchase above 100.0 (≈ p90 of purchase values):
      // a bare "any purchase" converts EVERY synthetic user, which
      // degenerates the test (pp = 1 → z undefined) at every scale
      val conv = col("event_type") === "purchase" && col("value") > lit(100.0)
      Tables.events(s, dir)
        .agg(
          countDistinct(when(col("user_id") % 2 === 0, col("user_id")))
            .as("n0"),
          countDistinct(when(col("user_id") % 2 === 0 && conv,
            col("user_id"))).as("c0"),
          countDistinct(when(col("user_id") % 2 === 1, col("user_id")))
            .as("n1"),
          countDistinct(when(col("user_id") % 2 === 1 && conv,
            col("user_id"))).as("c1"))
        .select(col("n0"), col("c0"), col("n1"), col("c1"),
          expr(abP0).as("p0"), expr(abP1).as("p1"),
          expr(abLift).as("lift"), expr(abZ).as("z"))
    },
    Some(s"""WITH k AS (SELECT
               count(DISTINCT CASE WHEN user_id % 2 = 0
                                   THEN user_id END) AS n0,
               count(DISTINCT CASE WHEN user_id % 2 = 0
                                   AND event_type = 'purchase'
                                   AND value > CAST(100.0 AS DOUBLE)
                                   THEN user_id END) AS c0,
               count(DISTINCT CASE WHEN user_id % 2 = 1
                                   THEN user_id END) AS n1,
               count(DISTINCT CASE WHEN user_id % 2 = 1
                                   AND event_type = 'purchase'
                                   AND value > CAST(100.0 AS DOUBLE)
                                   THEN user_id END) AS c1
             FROM events)
            SELECT n0, c0, n1, c1, $abP0 AS p0, $abP1 AS p1,
                   $abLift AS lift, $abZ AS z
            FROM k"""))

  /** Weighted median — the robust location estimate when observations
    * carry importance weights (survey analytics, weighted SLAs; the
    * unweighted median is q_agg_percentile's 0.5 case). Lower weighted
    * median: the smallest value whose running weight reaches half the
    * total (2·cum ≥ tot in integers — no division at all). Selection is
    * an ELEMENT of the data (never interpolated), the cumulative weight
    * runs over the (value, custkey) total order, and weights are exact
    * integers — both engines walk the identical construction, so the
    * result is bit-exact. Scale: the cumulative weight rides Prefix's
    * GROUPED two-phase decomposition (64 per-segment range buckets on
    * the value) — a plain partitionBy(segment) would sort
    * O(customers/|segments|) in one task per segment, the constant-
    * cardinality-key disguise of the global-window killer; the median
    * pick is then a min-struct aggregate over the half-weight
    * survivors, not another full-partition rank.
    */
  val qAggWeightedMedian = Q(
    "q_agg_weighted_median",
    (s, dir) => {
      val base = Tables.customer(s, dir)
        .select(col("c_mktsegment").as("segment"), col("c_acctbal"),
          col("c_custkey"), (col("c_custkey") % 10 + 1).as("w"))
        .localCheckpoint()
      val tot = base.groupBy("segment").agg(sum(col("w")).as("tot"))
      val cum = Prefix.groupedRunningSum(
        Prefix.withGroupRangeBucket(base, Seq("segment"),
          col("c_acctbal"), 64, "__b"),
        Seq("segment"), "__b",
        Seq(col("c_acctbal"), col("c_custkey")), bucketDesc = false,
        col("w"), "cum")
      cum.join(broadcast(tot), "segment")
        .where(col("cum") * 2 >= col("tot"))
        .groupBy("segment")
        .agg(min(struct(col("c_acctbal"), col("c_custkey"))).as("m"),
          max(col("tot")).as("w_total"))
        .select(col("segment"), col("m.c_acctbal").as("w_median"),
          col("w_total"))
        .orderBy("segment")
    },
    Some("""WITH x AS (SELECT c_mktsegment AS segment, c_acctbal,
                              c_custkey, c_custkey % 10 + 1 AS w
                       FROM customer),
             c AS (SELECT *,
                     CAST(sum(w) OVER (PARTITION BY segment
                       ORDER BY c_acctbal, c_custkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum,
                     CAST(sum(w) OVER (PARTITION BY segment) AS BIGINT)
                       AS tot
                   FROM x),
             r AS (SELECT *, row_number() OVER (PARTITION BY segment
                     ORDER BY c_acctbal, c_custkey) AS rk
                   FROM c WHERE cum * 2 >= tot)
            SELECT segment, c_acctbal AS w_median, tot AS w_total
            FROM r WHERE rk = 1 ORDER BY segment"""))

  /** RFM segmentation — the marketing-standard customer scoring
    * (Recency / Frequency / Monetary, each cut into quintiles, customers
    * bucketed by the 3-digit segment): per-customer aggregates from the
    * orders fact, then three ntile(5) windows with explicit (metric,
    * custkey) total orders — ntile's fill rule (earlier buckets take the
    * extras) is identical in both engines, and a total order makes the
    * assignment deterministic. Recency is exact integer days from the
    * GLOBAL max order date (no wall clock — §7.2); monetary ranks on the
    * Det decimal sum. Output = segment census (≤125 rows). Scale: the
    * fact scan reduces to O(customers) before any ranking, and the
    * quintiles are computed WITHOUT a global sort — each metric goes
    * through Prefix's two-phase decomposition (64 monotone range buckets,
    * per-bucket row_number in parallel, broadcast bucket-count offsets)
    * and the exact global rank is replayed into NTILE(5) with pure
    * integer arithmetic (Prefix.ntileFromRank). The only partition-less
    * window touches the 64 bucket counts; the DuckDB oracle keeps its
    * native ntile windows, so the hash match proves the decomposition
    * replicates the fill rule exactly.
    */
  val qRfmSegments = Q(
    "q_rfm_segments",
    (s, dir) => {
      val maxD = Tables.orders(s, dir)
        .agg(to_date(max(col("o_orderdate"))).as("ref_d"))
      val per = Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(to_date(max(col("o_orderdate"))).as("last_d"),
          count(lit(1)).as("freq"),
          Det.dsum(col("o_totalprice")).as("money"))
        .crossJoin(broadcast(maxD))
        .withColumn("recency", datediff(col("ref_d"), col("last_d")))
      val nRow = per.agg(count(lit(1)).as("n_cust"))
      // the reduced O(customers) table is read by all three rank passes —
      // materialize it once (executor-local; at 100 TB this is a standard
      // persisted intermediate, tiny next to the fact it reduces)
      val base = per.crossJoin(broadcast(nRow)).localCheckpoint()
      // one exact quintile score per metric, each via Prefix: 64 monotone
      // range buckets -> parallel per-bucket row_number -> broadcast
      // bucket-count offsets -> ntile replayed arithmetically from the
      // global rank. NO partition-less window ever sees O(customers) rows.
      def quintile(metric: Column, desc: Boolean, out: String): DataFrame = {
        val ord =
          if (desc) Seq(metric.desc, col("o_custkey"))
          else Seq(metric.asc, col("o_custkey"))
        val rk = Prefix.globalRank(
          Prefix.withRangeBucket(base, metric, 64, "__b"),
          "__b", ord, bucketDesc = desc, "__rk")
        rk.select(col("o_custkey"),
          Prefix.ntileFromRank("__rk", "n_cust", 5).as(out))
      }
      base.select("o_custkey", "money")
        .join(quintile(col("recency"), desc = true, "r"), "o_custkey")
        .join(quintile(col("freq"), desc = false, "f"), "o_custkey")
        .join(quintile(col("money"), desc = false, "m"), "o_custkey")
        .groupBy("r", "f", "m")
        .agg(count(lit(1)).as("n_customers"),
          Det.dsum(col("money")).as("segment_rev"))
        .orderBy("r", "f", "m")
    },
    Some(s"""WITH ref AS (SELECT CAST(max(o_orderdate) AS DATE) AS ref_d
                          FROM orders),
             per AS (SELECT o_custkey,
                       CAST(max(o_orderdate) AS DATE) AS last_d,
                       count(*) AS freq,
                       ${Det.sqlSum("o_totalprice")} AS money
                     FROM orders GROUP BY o_custkey),
             sc AS (SELECT o_custkey, money,
                      CAST(ntile(5) OVER (ORDER BY
                        (SELECT ref_d FROM ref) - last_d DESC,
                        o_custkey) AS INT) AS r,
                      CAST(ntile(5) OVER (ORDER BY freq, o_custkey)
                        AS INT) AS f,
                      CAST(ntile(5) OVER (ORDER BY money, o_custkey)
                        AS INT) AS m
                    FROM per)
            SELECT r, f, m, count(*) AS n_customers,
                   ${Det.sqlSum("money")} AS segment_rev
            FROM sc GROUP BY r, f, m ORDER BY r, f, m"""))

  // linear-regression finals — ONE formula text per column over the exact
  // per-group sums (cast DECIMAL→DOUBLE is correctly rounded in both
  // engines, the Det.dsum contract); every arithmetic step after the casts
  // is a single IEEE op on identical operands, so the chain is bit-exact
  private val regDxy = "(CAST(n AS DOUBLE) * sxy - sx * sy)"
  private val regDxx = "(CAST(n AS DOUBLE) * sxx - sx * sx)"
  private val regDyy = "(CAST(n AS DOUBLE) * syy - sy * sy)"
  // constant-x groups (dxx=0) have no defined fit; dyy=0 additionally
  // degenerates r² — NULL via the same CASE text, never Inf/NaN
  private val regSlope =
    "CASE WHEN dxx = CAST(0.0 AS DOUBLE) THEN NULL ELSE dxy / dxx END"
  private val regIcept =
    "CASE WHEN dxx = CAST(0.0 AS DOUBLE) THEN NULL " +
      "ELSE (sy - (dxy / dxx) * sx) / CAST(n AS DOUBLE) END"
  private val regR2 =
    "CASE WHEN dxx = CAST(0.0 AS DOUBLE) OR dyy = CAST(0.0 AS DOUBLE) " +
      "THEN NULL ELSE (dxy * dxy) / (dxx * dyy) END"

  /** Per-group least-squares fit (slope / intercept / r²) of line revenue
    * on quantity — the elasticity/trend primitive (price sensitivity,
    * demand curves) behind every "fit a line per segment" readout.
    * Spark ships regr_slope/regr_r2, but their running-moment internals
    * are reduction-order-dependent doubles (the avg-of-doubles hazard,
    * §7.2) — so the moments are accumulated EXACTLY instead: x = integral
    * quantity, y = whole cents, and Σx, Σy, Σxy, Σx², Σy² as
    * DECIMAL(38,0) sums of exact per-row integers (map-side combinable,
    * one shuffle on the bounded brand key). The closed-form finals then
    * run through one shared formula text per column. Scale: five exact
    * sums ride ONE partial/final HashAggregate — the same plan as a plain
    * groupBy-sum, output bounded by |brands|.
    */
  val qAggRegression = Q(
    "q_agg_regression",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"),
          col("l_quantity").cast("long").as("x"),
          Det.cents("l_extendedprice").as("y"))
      li.join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("brand"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(Dec0)).cast("double").as("sx"),
          sum(col("y").cast(Dec0)).cast("double").as("sy"),
          sum((col("x") * col("y")).cast(Dec0)).cast("double").as("sxy"),
          sum((col("x") * col("x")).cast(Dec0)).cast("double").as("sxx"),
          sum((col("y") * col("y")).cast(Dec0)).cast("double").as("syy"))
        .withColumn("dxy", expr(regDxy))
        .withColumn("dxx", expr(regDxx))
        .withColumn("dyy", expr(regDyy))
        .select(col("brand"), col("n"),
          expr(regSlope).as("slope"),
          expr(regIcept).as("icept"),
          expr(regR2).as("r2"))
        .orderBy("brand")
    },
    Some(s"""WITH m AS (
              SELECT p_brand AS brand, count(*) AS n,
                CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
                CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
                CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
                CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
                CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy
              FROM (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS x,
                      ${Det.sqlCents("l_extendedprice")} AS y
                    FROM lineitem) li
              JOIN part ON l_partkey = p_partkey
              GROUP BY p_brand),
            d AS (SELECT brand, n, sx, sy,
                    $regDxy AS dxy, $regDxx AS dxx, $regDyy AS dyy
                  FROM m)
            SELECT brand, n, $regSlope AS slope, $regIcept AS icept,
                   $regR2 AS r2
            FROM d ORDER BY brand"""))

  /** Herfindahl–Hirschman market concentration per market segment — the
    * antitrust/marketplace-health index (Σ share², scaled to the 0–10000
    * convention): firm = customer nation, revenue = whole-cent order
    * totals. Everything before the last division is EXACT integer
    * arithmetic — Spark squares the per-firm revenue as DECIMAL(18,0)²
    * → (37,0) (inside the 38-digit ceiling), DuckDB as HUGEINT (its
    * decimal multiply keeps the input width and overflows at (18,0)²,
    * so int128 is its exact path) — different carriers, identical exact
    * integers, and DECIMAL→DOUBLE / HUGEINT→DOUBLE are both correctly
    * rounded, so the final shared formula HHI = 10⁴·Σrev²/(Σrev)² sees
    * bit-identical operands. Scale: firm table is bounded
    * (|segments|·|nations|), two-phase aggregates only; the orders scan
    * reduces map-side before any shuffle.
    */
  val qAggHhi = Q(
    "q_agg_hhi",
    (s, dir) => {
      val Dec18 = DecimalType(18, 0)
      val firm = Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"),
          col("c_nationkey").as("firm"))
        .agg(sum(Det.cents("o_totalprice").cast(Dec18))
          .cast(Dec18).as("rev"))
      firm.groupBy("segment")
        .agg(count(lit(1)).as("n_firms"),
          sum(col("rev")).cast("double").as("tot"),
          sum(col("rev") * col("rev")).cast("double").as("sq"))
        .select(col("segment"), col("n_firms"),
          expr("CASE WHEN tot = CAST(0.0 AS DOUBLE) THEN NULL " +
            "ELSE CAST(10000.0 AS DOUBLE) * sq / (tot * tot) END")
            .as("hhi"))
        .orderBy("segment")
    },
    Some(s"""WITH firm AS (
              SELECT c_mktsegment AS segment, c_nationkey AS firm,
                CAST(SUM(${Det.sqlCents("o_totalprice")})
                  AS HUGEINT) AS rev
              FROM orders JOIN customer ON o_custkey = c_custkey
              GROUP BY 1, 2)
            SELECT segment, count(*) AS n_firms,
                   CASE WHEN CAST(SUM(rev) AS DOUBLE) = CAST(0.0 AS DOUBLE)
                        THEN NULL
                        ELSE CAST(10000.0 AS DOUBLE)
                          * CAST(SUM(rev * rev) AS DOUBLE)
                          / (CAST(SUM(rev) AS DOUBLE)
                             * CAST(SUM(rev) AS DOUBLE)) END AS hhi
            FROM firm GROUP BY segment ORDER BY segment"""))

  /** Tukey-fence outlier census per group — the IQR anomaly screen (data
    * quality, fraud triage): exact lower/upper quartiles as ELEMENTS of
    * the (value, key) total order (rank ⌈n/4⌉ / ⌈3n/4⌉ — never
    * interpolated, so the whole query is integer-exact end-to-end), then
    * rows outside [q1 − 1.5·IQR, q3 + 1.5·IQR] counted via the
    * denominator-free spelling 2v < 5q1 − 3q3 / 2v > 5q3 − 3q1 (no ·1.5
    * float, no boundary ties). Scale: the per-group rank rides Prefix's
    * GROUPED two-phase decomposition (64 per-priority range buckets) —
    * a plain partitionBy(pri) puts O(orders/5) through one task per
    * priority; n comes from a broadcast per-group count, not a
    * full-partition count window. approx-quantile fences
    * (q_agg_percentile_approx's bounded-error path) remain the cheaper
    * 100 TB swap when exactness isn't required.
    */
  val qAnomalyIqr = Q(
    "q_anomaly_iqr",
    (s, dir) => {
      val base = Tables.orders(s, dir)
        .select(col("o_orderpriority").as("pri"),
          Det.cents("o_totalprice").as("v"),
          col("o_orderkey"))
        .localCheckpoint()
      val counts = base.groupBy("pri").agg(count(lit(1)).as("n"))
      val ranked = Prefix.groupedRank(
          Prefix.withGroupRangeBucket(base, Seq("pri"), col("v"), 64, "__b"),
          Seq("pri"), "__b", Seq(col("v"), col("o_orderkey")),
          bucketDesc = false, "rn")
        .join(broadcast(counts), "pri")
      val fences = ranked.groupBy("pri")
        .agg(max(col("n")).as("n"),
          max(when(col("rn") === expr("(n + 3) div 4"), col("v")))
            .as("q1_c"),
          max(when(col("rn") === expr("(3 * n + 3) div 4"), col("v")))
            .as("q3_c"))
      ranked.join(broadcast(fences.drop("n")), Seq("pri"))
        .groupBy("pri")
        .agg(count(lit(1)).as("n"), max(col("q1_c")).as("q1_c"),
          max(col("q3_c")).as("q3_c"),
          count(when(col("v") * 2 < col("q1_c") * 5 - col("q3_c") * 3,
            lit(1))).as("n_low"),
          count(when(col("v") * 2 > col("q3_c") * 5 - col("q1_c") * 3,
            lit(1))).as("n_high"))
        .orderBy("pri")
    },
    Some(s"""WITH v AS (SELECT o_orderpriority AS pri,
                    ${Det.sqlCents("o_totalprice")} AS v, o_orderkey
                  FROM orders),
             r AS (SELECT *,
                     row_number() OVER (PARTITION BY pri
                       ORDER BY v, o_orderkey) AS rn,
                     count(*) OVER (PARTITION BY pri) AS n
                   FROM v),
             f AS (SELECT pri,
                     max(CASE WHEN rn = (n + 3) // 4 THEN v END) AS q1_c,
                     max(CASE WHEN rn = (3 * n + 3) // 4 THEN v END)
                       AS q3_c
                   FROM r GROUP BY pri)
            SELECT r.pri, count(*) AS n, max(f.q1_c) AS q1_c,
                   max(f.q3_c) AS q3_c,
                   count(CASE WHEN v * 2 < f.q1_c * 5 - f.q3_c * 3
                              THEN 1 END) AS n_low,
                   count(CASE WHEN v * 2 > f.q3_c * 5 - f.q1_c * 3
                              THEN 1 END) AS n_high
            FROM r JOIN f ON r.pri = f.pri
            GROUP BY r.pri ORDER BY r.pri"""))

  /** Top-N concentration — the "how much do the whales matter" readout
    * (account-risk, capacity planning): top-10 customers by exact-cents
    * revenue with each one's share and the RUNNING share of the total.
    * Both ratios divide exact integers (the running numerator is an
    * integer cumsum over the 10-row result — never a float accumulation,
    * so there is no engine-order hazard in the running column); the
    * total broadcasts from a 1-row aggregate. Scale: per-customer rollup
    * is one two-phase aggregate; top-10 is TakeOrderedAndProject (per-
    * partition heaps, no global sort); everything after is 10 rows.
    */
  val qAggTopnShare = Q(
    "q_agg_topn_share",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val per = Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(sum(Det.cents("o_totalprice")).as("rev_c"))
      val tot = per.agg(sum(col("rev_c")).as("tot_c"))
      val wRun = Window.orderBy(col("rev_c").desc, col("o_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      per.orderBy(col("rev_c").desc, col("o_custkey")).limit(10)
        .crossJoin(broadcast(tot))
        .withColumn("rk", row_number().over(
          Window.orderBy(col("rev_c").desc, col("o_custkey"))))
        .withColumn("cum_c", sum(col("rev_c")).over(wRun))
        .select(col("rk"), col("o_custkey"), col("rev_c"),
          expr("CAST(rev_c AS DOUBLE) / CAST(tot_c AS DOUBLE)")
            .as("share"),
          expr("CAST(cum_c AS DOUBLE) / CAST(tot_c AS DOUBLE)")
            .as("cum_share"))
        .orderBy("rk")
    },
    Some(s"""WITH per AS (SELECT o_custkey,
                    CAST(sum(${Det.sqlCents("o_totalprice")}) AS BIGINT)
                      AS rev_c
                  FROM orders GROUP BY o_custkey),
             tot AS (SELECT CAST(sum(rev_c) AS BIGINT) AS tot_c FROM per),
             top AS (SELECT * FROM per
                     ORDER BY rev_c DESC, o_custkey LIMIT 10),
             r AS (SELECT o_custkey, rev_c, tot_c,
                     CAST(row_number() OVER (ORDER BY rev_c DESC,
                       o_custkey) AS INTEGER) AS rk,
                     CAST(sum(rev_c) OVER (ORDER BY rev_c DESC, o_custkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS cum_c
                   FROM top, tot)
            SELECT rk, o_custkey, rev_c,
                   CAST(rev_c AS DOUBLE) / CAST(tot_c AS DOUBLE) AS share,
                   CAST(cum_c AS DOUBLE) / CAST(tot_c AS DOUBLE)
                     AS cum_share
            FROM r ORDER BY rk"""))

  /** Deterministic bootstrap confidence interval — uncertainty
    * quantification at corpus scale (every point estimate a pipeline
    * reports should carry one; classic bootstrap resampling is
    * rand()-driven and §7.2-banned): B=32 Poisson-style resamples whose
    * per-(row, b) weight ∈ {0,1,2,3} comes from the PORTABLE md5 hash
    * (P = 6/16, 6/16, 3/16, 1/16 — mean 15/16, variance ≈ 0.93, the
    * standard Poisson(1) approximation with a bounded support both
    * engines evaluate identically), so the whole CI is a pure function
    * of the data. Each resample mean is exact-integer Σw·c / Σw (one
    * shared division); the 95%-ish band is the 2nd/31st order statistic
    * of the 32 means (sorted-array pick — no interpolation ambiguity).
    * Scale: the B× explode fan-out feeds ONE map-side-combinable
    * aggregate with B bounded keys — the textbook distributed Poisson
    * bootstrap; B rides a literal, not a shuffle dimension.
    */
  val qAggBootstrap = Q(
    "q_agg_bootstrap",
    (s, dir) => {
      val B = 32
      val rows = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"),
          Det.cents("o_totalprice").as("c"))
      val means = rows
        .select(col("k"), col("c"),
          explode(sequence(lit(0), lit(B - 1))).as("b"))
        .withColumn("h", pmod(Det.pHash32(
          concat(col("k").cast(org.apache.spark.sql.types.StringType),
            lit("_"),
            col("b").cast(org.apache.spark.sql.types.StringType))),
          lit(16)))
        .withColumn("w",
          when(col("h") < 6, 0L).when(col("h") < 12, 1L)
            .when(col("h") < 15, 2L).otherwise(3L))
        .groupBy("b")
        .agg(sum(col("w") * col("c")).as("swc"), sum(col("w")).as("sw"))
        .withColumn("mean_b",
          expr("CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE)"))
        .agg(sort_array(collect_list(col("mean_b"))).as("ms"))
        .select(element_at(col("ms"), 2).as("ci_lo"),
          element_at(col("ms"), 31).as("ci_hi"))
      val point = rows.agg(count(lit(1)).as("n"), sum(col("c")).as("sc"))
        .withColumn("mean", expr("CAST(sc AS DOUBLE) / CAST(n AS DOUBLE)"))
      point.crossJoin(broadcast(means))
        .select("n", "mean", "ci_lo", "ci_hi")
    },
    Some(s"""WITH rows_ AS (SELECT o_orderkey AS k,
                    ${Det.sqlCents("o_totalprice")} AS c
                  FROM orders),
             fan AS (SELECT k, c, CAST(t.b AS INT) AS b
                     FROM rows_, unnest(range(0, 32)) AS t(b)),
             wts AS (SELECT b, c,
                       (('0x' || substr(md5(CAST(k AS VARCHAR) || '_'
                          || CAST(b AS VARCHAR)), 1, 8))::BIGINT) % 16
                         AS h
                     FROM fan),
             ws AS (SELECT b, c,
                      CASE WHEN h < 6 THEN 0 WHEN h < 12 THEN 1
                           WHEN h < 15 THEN 2 ELSE 3 END AS w
                    FROM wts),
             m AS (SELECT b,
                     CAST(CAST(sum(w * c) AS BIGINT) AS DOUBLE)
                       / CAST(CAST(sum(w) AS BIGINT) AS DOUBLE) AS mean_b
                   FROM ws GROUP BY b),
             ci AS (SELECT list(mean_b ORDER BY mean_b) AS ms FROM m),
             pt AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(CAST(sum(c) AS BIGINT) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE) AS mean
                    FROM rows_)
            SELECT n, mean, ms[2] AS ci_lo, ms[31] AS ci_hi
            FROM pt CROSS JOIN ci"""))

  /** Deterministic randomization test — the assumption-free significance
    * readout completing the resampling family (bootstrap = CI around an
    * estimate; this = "could the observed group difference be chance?"
    * without t's normality or U's rank model): B=64 pseudo-label
    * reassignments, each row's group redrawn from the portable md5 hash
    * of (key, b) — the standard large-n binomial approximation of label
    * permutation, and like q_agg_bootstrap a pure function of the data.
    * Per resample the mean difference uses exact-integer sums and ONE
    * shared division per side; the p-estimate is the count of resamples
    * whose |diff| ≥ |observed| (comparisons on identically-computed
    * doubles) over B. Same scale shape as bootstrap: B× explode into one
    * map-side-combinable B-key aggregate.
    */
  val qAggPermutationTest = Q(
    "q_agg_permutation_test",
    (s, dir) => {
      val B = 64
      val rows = Tables.orders(s, dir)
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .where(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(col("o_orderkey").as("k"),
          (col("c_mktsegment") === "BUILDING").as("g"),
          Det.cents("o_totalprice").as("c"))
      val dFml = "CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) " +
        "- CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)"
      val obs = rows.agg(
        sum(when(col("g"), col("c"))).as("s1"),
        count(when(col("g"), lit(1))).as("n1"),
        sum(when(!col("g"), col("c"))).as("s0"),
        count(when(!col("g"), lit(1))).as("n0"))
        .withColumn("diff_obs", expr(dFml))
        .select("n1", "n0", "diff_obs")
      val resampled = rows
        .select(col("k"), col("c"),
          explode(sequence(lit(1), lit(B))).as("b"))
        .withColumn("rg", pmod(Det.pHash32(
          concat(col("k").cast(org.apache.spark.sql.types.StringType),
            lit("_"),
            col("b").cast(org.apache.spark.sql.types.StringType))),
          lit(2)) === 1)
        .groupBy("b")
        .agg(sum(when(col("rg"), col("c"))).as("s1"),
          count(when(col("rg"), lit(1))).as("n1"),
          sum(when(!col("rg"), col("c"))).as("s0"),
          count(when(!col("rg"), lit(1))).as("n0"))
        .withColumn("diff_b", expr(dFml))
        .select("b", "diff_b")
      obs.crossJoin(resampled)
        .groupBy("n1", "n0", "diff_obs")
        .agg(count(when(abs(col("diff_b")) >= abs(col("diff_obs")),
          lit(1))).as("n_extreme"),
          count(lit(1)).as("n_resamples"))
        .select("n1", "n0", "diff_obs", "n_extreme", "n_resamples")
    },
    Some(s"""WITH rows_ AS (SELECT o_orderkey AS k,
                    c_mktsegment = 'BUILDING' AS g,
                    ${Det.sqlCents("o_totalprice")} AS c
                  FROM orders JOIN customer ON o_custkey = c_custkey
                  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
             obs AS (SELECT
                 CAST(count(CASE WHEN g THEN 1 END) AS BIGINT) AS n1,
                 CAST(count(CASE WHEN NOT g THEN 1 END) AS BIGINT) AS n0,
                 CAST(CAST(sum(CASE WHEN g THEN c END) AS BIGINT)
                   AS DOUBLE)
                   / CAST(count(CASE WHEN g THEN 1 END) AS DOUBLE)
                 - CAST(CAST(sum(CASE WHEN NOT g THEN c END) AS BIGINT)
                   AS DOUBLE)
                   / CAST(count(CASE WHEN NOT g THEN 1 END) AS DOUBLE)
                   AS diff_obs
               FROM rows_),
             fan AS (SELECT k, c, CAST(t.b AS INT) AS b
                     FROM rows_, unnest(range(1, 65)) AS t(b)),
             rg AS (SELECT b, c,
                      (('0x' || substr(md5(CAST(k AS VARCHAR) || '_'
                         || CAST(b AS VARCHAR)), 1, 8))::BIGINT) % 2 = 1
                        AS rg
                    FROM fan),
             m AS (SELECT b,
                     CAST(CAST(sum(CASE WHEN rg THEN c END) AS BIGINT)
                       AS DOUBLE)
                       / CAST(count(CASE WHEN rg THEN 1 END) AS DOUBLE)
                     - CAST(CAST(sum(CASE WHEN NOT rg THEN c END)
                       AS BIGINT) AS DOUBLE)
                       / CAST(count(CASE WHEN NOT rg THEN 1 END)
                         AS DOUBLE) AS diff_b
                   FROM rg GROUP BY b)
            SELECT n1, n0, diff_obs,
                   CAST(count(CASE WHEN abs(diff_b) >= abs(diff_obs)
                              THEN 1 END) AS BIGINT) AS n_extreme,
                   CAST(count(*) AS BIGINT) AS n_resamples
            FROM obs CROSS JOIN m
            GROUP BY n1, n0, diff_obs"""))

  val all: Seq[Q] = Seq(qAggBootstrap, qAggPermutationTest,qAbLift, qAggWeightedMedian, qRfmSegments,
    qAggRegression, qAggHhi, qAnomalyIqr, qAggTopnShare,
    qAggCorr, qAggMode, qAggIncrMerge, qCohortRetention,
    qAggSkewKurt, qAggMad, qTimeOhlc, qProfileColumns, qAggGini,
    qAggStringAgg, qAggBoolBit,
    qAggArgmax, qAggDistinctMulti,
    qAggHash, qAggWeightedRate, qAggDistinct, qAggApproxDistinct, qAggRollup,
    qAggCube, qAggGroupingSets, qAggPivot, qAggUnpivot, qAggPercentile,
    qAggPercentileApprox, qAggHistogram, qAggMinmaxBbox, qAggCollectSorted,
    qAggWinsorize, qAggHllShards, qAggMeanVariants, qAggHistogram2d)
}
