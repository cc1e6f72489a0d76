package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}
import graft.{Det, Q}
import graft.Det.Dec0
import graft.sources.Tables

/** Window functions, sorts/limits, set operations — SURVEY.md §2.E–§2.G.
  *
  * Reference semantics: the rankings tool (top evicting places per year with
  * deterministic tie-breaks), canonical-row dedupe across sources,
  * year-over-year trend columns, legend quartiles, ranked CSV output order,
  * per-state shard concat, and validation set-differences
  * [ref:rankings build, source-priority dedupe, trend columns, breaks,
  * national concat, validation (H/M) — SURVEY.md §0].
  *
  * Scale posture: every window partitions by a bounded-cardinality key
  * (year, customer, order) so no single partition grows with data volume —
  * except the two global-window queries (daily revenue, global sort) whose
  * input is already aggregated/bounded. Global top-k uses orderBy+limit which
  * Spark plans as TakeOrderedAndProject (per-partition heap, no full sort).
  */
object Windows {

  /** FLAGSHIP rankings: top-10 orders by value per year, rank with
    * deterministic tie-break by orderkey.
    */
  val qWinRankTopn = Q(
    "q_win_rank_topn",
    (s, dir) => {
      val w = Window.partitionBy(col("yr"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .select(year(col("o_orderdate")).as("yr"), col("o_orderkey"),
          col("o_totalprice"))
        .withColumn("rk", rank().over(w).cast(IntegerType))
        .where(col("rk") <= 10)
        .orderBy("yr", "rk")
    },
    Some("""SELECT yr, o_orderkey, o_totalprice, rk
            FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, o_orderkey,
                         o_totalprice,
                         CAST(rank() OVER (PARTITION BY year(o_orderdate)
                           ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER)
                           AS rk
                  FROM orders)
            WHERE rk <= 10 ORDER BY yr, rk"""))

  /** row_number()=1 canonical-row dedupe (preferred-source row analog).
    * Survivor totally ordered (§7.2 rule 3) — never bare dropDuplicates.
    */
  val qWinRownumDedupe = Q(
    "q_win_rownum_dedupe",
    (s, dir) => {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_partkey"), col("l_suppkey"))
      Tables.lineitem(s, dir)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_partkey")
        .orderBy("l_orderkey")
    },
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_partkey
            FROM (SELECT *, row_number() OVER (PARTITION BY l_orderkey
                    ORDER BY l_linenumber, l_quantity, l_extendedprice,
                             l_partkey, l_suppkey) AS rn
                  FROM lineitem)
            WHERE rn = 1 ORDER BY l_orderkey"""))

  /** Year-over-year delta per entity (trend columns analog). */
  val qWinLagYoy = Q(
    "q_win_lag_yoy",
    (s, dir) => {
      val yearly = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("yr"))
        .agg(Det.dsum(col("o_totalprice")).as("rev"))
      val w = Window.partitionBy(col("n_name")).orderBy(col("yr"))
      yearly
        .withColumn("rev_prev", lag(col("rev"), 1).over(w))
        .withColumn("yoy", col("rev") - col("rev_prev"))
        .orderBy("n_name", "yr")
    },
    Some(s"""WITH yearly AS (
               SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS yr,
                      ${Det.sqlSum("o_totalprice")} AS rev
               FROM orders
               JOIN customer ON o_custkey = c_custkey
               JOIN nation   ON c_nationkey = n_nationkey
               GROUP BY n_name, yr)
             SELECT n_name, yr, rev,
                    lag(rev, 1) OVER w AS rev_prev,
                    rev - (lag(rev, 1) OVER w) AS yoy
             FROM yearly
             WINDOW w AS (PARTITION BY n_name ORDER BY yr)
             ORDER BY n_name, yr"""))

  /** Running total + 3-row moving average with explicit ROWS frame over
    * daily revenue. Sums stay DECIMAL inside the window (order-independent),
    * cast to double only at the end.
    */
  val qWinRunningFrame = Q(
    "q_win_running_frame",
    (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(date_trunc("day", col("o_orderdate")).as("d"))
        .agg(sum(col("o_totalprice").cast(Det.Dec)).as("rev_dec"))
      val wRun = Window.orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val w3 = Window.orderBy(col("d")).rowsBetween(-2, Window.currentRow)
      daily.select(
          col("d"),
          col("rev_dec").cast(DoubleType).as("rev"),
          sum(col("rev_dec")).over(wRun).cast(DoubleType).as("run_total"),
          (sum(col("rev_dec")).over(w3).cast(DoubleType) /
            count(col("rev_dec")).over(w3).cast(DoubleType)).as("mov3"))
        .orderBy("d")
    },
    Some("""WITH daily AS (
              SELECT date_trunc('day', o_orderdate) AS d,
                     SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev_dec
              FROM orders GROUP BY d)
            SELECT d, CAST(rev_dec AS DOUBLE) AS rev,
                   CAST(SUM(rev_dec) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                     PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total,
                   CAST(SUM(rev_dec) OVER w3 AS DOUBLE)
                     / CAST(COUNT(rev_dec) OVER w3 AS DOUBLE) AS mov3
            FROM daily
            WINDOW w3 AS (ORDER BY d ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            ORDER BY d"""))

  /** Quartile bucket per year (legend classes analog). NOTE (r11):
    * the partition key here has CONSTANT cardinality, so each partition
    * scales with the data — kept as the native window-API surface row;
    * the scale swap is Prefix's grouped two-phase decomposition, proven
    * bit-exact in-suite by q_agg_weighted_median / q_anomaly_iqr /
    * q_skyline_2d (and ntileFromRank for NTILE itself in
    * q_rfm_segments).
    */
  val qWinNtile = Q(
    "q_win_ntile",
    (s, dir) => {
      val w = Window.partitionBy(col("yr"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir)
        .select(year(col("o_orderdate")).as("yr"), col("o_orderkey"),
          col("o_totalprice"))
        .withColumn("quartile", ntile(4).over(w).cast(IntegerType))
        .orderBy("yr", "o_orderkey")
    },
    Some("""SELECT yr, o_orderkey, o_totalprice,
                   CAST(ntile(4) OVER (PARTITION BY yr
                     ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS quartile
            FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, o_orderkey,
                         o_totalprice FROM orders)
            ORDER BY yr, o_orderkey"""))

  /** RANGE frame on epoch millis: per-customer trailing-30-day order total. */
  val qWinRangeFrame = Q(
    "q_win_range_frame",
    (s, dir) => {
      val thirtyDaysMs = 30L * 86400 * 1000
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("ems"))
        .rangeBetween(-thirtyDaysMs, Window.currentRow)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          unix_millis(col("o_orderdate")).as("ems"),
          col("o_totalprice"))
        .withColumn("trail30",
          sum(col("o_totalprice").cast(Det.Dec)).over(w).cast(DoubleType))
        .orderBy("o_custkey", "ems", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey, epoch_ms(o_orderdate) AS ems,
                   o_totalprice,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER
                     (PARTITION BY o_custkey ORDER BY epoch_ms(o_orderdate)
                      RANGE BETWEEN 2592000000 PRECEDING AND CURRENT ROW)
                     AS DOUBLE) AS trail30
            FROM orders
            ORDER BY o_custkey, ems, o_orderkey"""))

  /** Multi-key global sort with explicit null ordering (ranked CSV order).
    * Spark default null ordering (ASC→nulls first) differs from DuckDB
    * (nulls last) — both sides are explicit.
    */
  val qSortMultikey = Q(
    "q_sort_multikey",
    (s, dir) =>
      Tables.supplier(s, dir)
        .orderBy(col("s_acctbal").desc_nulls_last,
          col("s_name").asc_nulls_first, col("s_suppkey")),
    Some("""SELECT * FROM supplier
            ORDER BY s_acctbal DESC NULLS LAST, s_name ASC NULLS FIRST,
                     s_suppkey"""))

  /** Global top-k without a full sort (TakeOrderedAndProject). */
  val qTopkGlobal = Q(
    "q_topk_global",
    (s, dir) =>
      Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"""))

  /** Pagination slice (rankings UI pages) — Spark 4 native offset. */
  val qLimitOffset = Q(
    "q_limit_offset",
    (s, dir) =>
      Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
        .offset(20).limit(10),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            ORDER BY o_orderkey LIMIT 10 OFFSET 20"""))

  /** Union of per-segment shards by NAME (column orders differ — the
    * reference concats per-state CSVs whose column order drifted) + distinct.
    */
  val qUnionShards = Q(
    "q_union_shards",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val shardF = o.where(col("o_orderstatus") === "F")
        .select(col("o_orderstatus"), col("o_orderpriority"),
          year(col("o_orderdate")).as("yr"))
      val shardO = o.where(col("o_orderstatus") === "O")
        .select(year(col("o_orderdate")).as("yr"), col("o_orderpriority"),
          col("o_orderstatus"))
      shardF.unionByName(shardO).distinct()
        .orderBy("o_orderstatus", "o_orderpriority", "yr")
    },
    Some("""SELECT DISTINCT o_orderstatus, o_orderpriority,
                   CAST(year(o_orderdate) AS INTEGER) AS yr
            FROM orders WHERE o_orderstatus IN ('F', 'O')
            ORDER BY o_orderstatus, o_orderpriority, yr"""))

  /** Set difference: keys with data minus keys with geometry analog. */
  val qExceptMissing = Q(
    "q_except_missing",
    (s, dir) =>
      Tables.customer(s, dir).select(col("c_custkey").as("k"))
        .except(Tables.orders(s, dir).select(col("o_custkey").as("k")))
        .orderBy("k"),
    Some("""SELECT c_custkey AS k FROM customer
            EXCEPT SELECT o_custkey AS k FROM orders ORDER BY k"""))

  /** Keys present in both periods. */
  val qIntersectCommon = Q(
    "q_intersect_common",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      o.where(year(col("o_orderdate")) === 1995)
        .select(col("o_custkey").as("k"))
        .intersect(
          o.where(year(col("o_orderdate")) === 1996)
            .select(col("o_custkey").as("k")))
        .orderBy("k")
    },
    Some("""SELECT o_custkey AS k FROM orders WHERE year(o_orderdate) = 1995
            INTERSECT
            SELECT o_custkey AS k FROM orders WHERE year(o_orderdate) = 1996
            ORDER BY k"""))

  /** MULTISET difference (`EXCEPT ALL`) — multiplicity-preserving, unlike
    * q_except_missing's set EXCEPT: a customer with 3 orders in 1995 and
    * 1 in 1996 survives TWICE (the per-occurrence reconciliation shape:
    * un-refunded purchases, unmatched ledger entries). Result aggregated
    * to (k, cnt) so the preserved multiplicities are the visible,
    * hash-checked artifact. Spark plans exceptAll as a
    * generate-count/replicate rewrite over hash aggregates — shuffle on
    * k, no sort, scale-clean.
    */
  val qExceptAllMulti = Q(
    "q_except_all_multi",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      o.where(year(col("o_orderdate")) === 1995)
        .select(col("o_custkey").as("k"))
        .exceptAll(
          o.where(year(col("o_orderdate")) === 1996)
            .select(col("o_custkey").as("k")))
        .groupBy("k").agg(count(lit(1)).as("cnt"))
        .orderBy("k")
    },
    Some("""WITH d AS (
              SELECT o_custkey AS k FROM orders
              WHERE year(o_orderdate) = 1995
              EXCEPT ALL
              SELECT o_custkey AS k FROM orders
              WHERE year(o_orderdate) = 1996)
            SELECT k, count(*) AS cnt FROM d GROUP BY k ORDER BY k"""))

  /** MULTISET intersection (`INTERSECT ALL`): min-multiplicity matching —
    * a key with m occurrences on one side and n on the other survives
    * min(m, n) times (the both-sides-matched volume of a reconciliation,
    * not just the key overlap of q_intersect_common). Same aggregated
    * output doctrine as q_except_all_multi.
    */
  val qIntersectAllMulti = Q(
    "q_intersect_all_multi",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      o.where(year(col("o_orderdate")) === 1995)
        .select(col("o_custkey").as("k"))
        .intersectAll(
          o.where(year(col("o_orderdate")) === 1996)
            .select(col("o_custkey").as("k")))
        .groupBy("k").agg(count(lit(1)).as("cnt"))
        .orderBy("k")
    },
    Some("""WITH d AS (
              SELECT o_custkey AS k FROM orders
              WHERE year(o_orderdate) = 1995
              INTERSECT ALL
              SELECT o_custkey AS k FROM orders
              WHERE year(o_orderdate) = 1996)
            SELECT k, count(*) AS cnt FROM d GROUP BY k ORDER BY k"""))

  /** Subset dedupe with a DETERMINISTIC survivor: earliest order per
    * (customer, year). Bare dropDuplicates picks an arbitrary survivor —
    * t2 variant goes through row_number (§7.2 rule 3).
    */
  val qDropdupSubset = Q(
    "q_dropdup_subset",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"), col("yr"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_custkey"), year(col("o_orderdate")).as("yr"),
          col("o_orderkey"), col("o_orderdate"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .drop("rn")
        .orderBy("o_custkey", "yr")
    },
    Some("""SELECT o_custkey, yr, o_orderkey, o_orderdate
            FROM (SELECT o_custkey,
                         CAST(year(o_orderdate) AS INTEGER) AS yr,
                         o_orderkey, o_orderdate,
                         row_number() OVER (PARTITION BY o_custkey,
                           year(o_orderdate)
                           ORDER BY o_orderdate, o_orderkey) AS rn
                  FROM orders)
            WHERE rn = 1 ORDER BY o_custkey, yr"""))

  /** first_value/last_value over a full-partition frame: each customer's
    * first and latest order attributes on every row (reference: carry a
    * geography's first/latest observation year onto each stats row).
    */
  val qWinFirstLast = Q(
    "q_win_first_last",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
        .withColumn("first_date", first_value(col("o_orderdate")).over(w))
        .withColumn("last_date", last_value(col("o_orderdate")).over(w))
        .withColumn("first_key", first_value(col("o_orderkey")).over(w))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""SELECT o_custkey, o_orderkey, o_orderdate,
                   first_value(o_orderdate) OVER w AS first_date,
                   last_value(o_orderdate) OVER w AS last_date,
                   first_value(o_orderkey) OVER w AS first_key
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
            ORDER BY o_custkey, o_orderkey"""))

  /** Relative-standing functions: percent_rank + cume_dist per year
    * partition. Both are rational functions of integer rank/count —
    * deterministic with a total order — but quantized to round(6) because
    * the engines may associate the double division differently. NOTE (r11):
    * the partition key here has CONSTANT cardinality, so each partition
    * scales with the data — kept as the native window-API surface row;
    * the scale swap is Prefix's grouped two-phase decomposition, proven
    * bit-exact in-suite by q_agg_weighted_median / q_anomaly_iqr /
    * q_skyline_2d (and ntileFromRank for NTILE itself in
    * q_rfm_segments).
    */
  val qWinPercentRank = Q(
    "q_win_percent_rank",
    (s, dir) => {
      val w = Window.partitionBy(col("yr"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir)
        .select(year(col("o_orderdate")).as("yr"), col("o_orderkey"),
          col("o_totalprice"))
        .withColumn("pr", round(percent_rank().over(w), 6))
        .withColumn("cd", round(cume_dist().over(w), 6))
        .orderBy("yr", "o_orderkey")
    },
    Some("""SELECT yr, o_orderkey, o_totalprice,
                   round(percent_rank() OVER w, 6) AS pr,
                   round(cume_dist() OVER w, 6) AS cd
            FROM (SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
                         o_orderkey, o_totalprice
                  FROM orders)
            WINDOW w AS (PARTITION BY yr
              ORDER BY o_totalprice, o_orderkey)
            ORDER BY yr, o_orderkey"""))

  /** Gap-fill + forward-fill: densify sparse per-nation daily revenue onto
    * a complete 90-day spine, carrying the last observed value across gaps
    * (`last(..., ignoreNulls)` over an unbounded-preceding frame; leading
    * gaps before the first observation stay null on both engines). THE
    * time-series normalization step before any window/trend computation on
    * event-sourced data.
    *
    * Scale posture: the spine is dim × bounded-date-range (generated
    * in-plan by sequence/explode, no driver loop); the fill is one
    * partition-bounded window — never a self-join per day. The cross join
    * is dim × 90 literals, the bounded kind the engine allows.
    */
  val qWinGapFill = Q(
    "q_win_gap_fill",
    (s, dir) => {
      val daily = Tables.orders(s, dir)
        .where(col("o_orderdate") >= "1995-01-01" &&
          col("o_orderdate") < "1995-04-01")
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), to_date(col("o_orderdate")).as("d"))
        .agg(Det.dsum(col("o_totalprice")).as("rev"))
      val spine = Tables.nation(s, dir).select("n_name")
        .crossJoin(s.sql(
          """SELECT explode(sequence(DATE'1995-01-01', DATE'1995-03-31',
             interval 1 day)) AS d"""))
      val w = Window.partitionBy(col("n_name")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("n_name", "d"), "left")
        .withColumn("is_gap", col("rev").isNull)
        .withColumn("rev_filled", last(col("rev"), ignoreNulls = true).over(w))
        // emit the day as TIMESTAMP: parquet date32 loads as python date
        // objects driver-side while DuckDB DATE loads as datetime64 — the
        // dtype check would flag a value-identical result (§7.2 rule 5)
        .select(col("n_name"),
          col("d").cast(org.apache.spark.sql.types.TimestampType).as("d"),
          col("rev_filled"), col("is_gap"))
        .orderBy("n_name", "d")
    },
    Some(s"""WITH daily AS (
               SELECT n_name, CAST(o_orderdate AS DATE) AS d,
                      ${Det.sqlSum("o_totalprice")} AS rev
               FROM orders JOIN customer ON o_custkey = c_custkey
                           JOIN nation ON c_nationkey = n_nationkey
               WHERE o_orderdate >= '1995-01-01'
                 AND o_orderdate < '1995-04-01'
               GROUP BY 1, 2),
             spine AS (
               SELECT n_name, CAST(unnest(generate_series(
                        DATE '1995-01-01', DATE '1995-03-31',
                        INTERVAL 1 DAY)) AS DATE) AS d
               FROM nation)
             SELECT s.n_name, CAST(s.d AS TIMESTAMP) AS d,
                    last_value(daily.rev IGNORE NULLS) OVER (
                      PARTITION BY s.n_name ORDER BY s.d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS rev_filled,
                    daily.rev IS NULL AS is_gap
             FROM spine s LEFT JOIN daily
               ON s.n_name = daily.n_name AND s.d = daily.d
             ORDER BY s.n_name, s.d"""))

  // interpolation formula — ONE text evaluated by both engines (identical
  // IEEE op sequence); day-number diffs are exact small integers, so the
  // single division is the only inexact step and both engines perform it
  // on identical operands
  private val interpFml =
    "pv + (nv - pv) * (CAST(dn - pdn AS DOUBLE) / CAST(ndn - pdn AS DOUBLE))"

  /** LINEAR interpolation across gaps — q_win_gap_fill's forward-fill
    * holds the last value flat; sensor/metric pipelines want the value on
    * the line between the bracketing observations (resampling, missing-
    * tick repair). Same nation × 90-day spine; for each gap day the
    * bracketing observations come from four window functions over TWO
    * frames (last/prev value+day over unbounded-preceding, first/next
    * value+day over unbounded-following — `ignoreNulls`, so one window
    * exchange serves all four); the interpolated value is the shared
    * formula text above, 6-decimal-rounded at output. Leading/trailing
    * gaps (no bracket on one side) stay NULL in both engines. Scale: one
    * shuffle on the partition key total — both window frames and the
    * output share HashPartitioning(n_name); the spine is bounded
    * dim × 90 generated in-plan.
    */
  val qTimeInterpLinear = Q(
    "q_time_interp_linear",
    (s, dir) => {
      val daily = Tables.orders(s, dir)
        .where(col("o_orderdate") >= "1995-01-01" &&
          col("o_orderdate") < "1995-04-01")
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), to_date(col("o_orderdate")).as("d"))
        .agg(Det.dsum(col("o_totalprice")).as("rev"))
      val spine = Tables.nation(s, dir).select("n_name")
        .crossJoin(s.sql(
          """SELECT explode(sequence(DATE'1995-01-01', DATE'1995-03-31',
             interval 1 day)) AS d"""))
      val wPrev = Window.partitionBy(col("n_name")).orderBy(col("dn"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy(col("n_name")).orderBy(col("dn"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      spine.join(daily, Seq("n_name", "d"), "left")
        .withColumn("dn", datediff(col("d"), lit("1970-01-01")))
        .withColumn("pv", last(col("rev"), ignoreNulls = true).over(wPrev))
        .withColumn("pdn", last(when(col("rev").isNotNull, col("dn")),
          ignoreNulls = true).over(wPrev))
        .withColumn("nv", first(col("rev"), ignoreNulls = true).over(wNext))
        .withColumn("ndn", first(when(col("rev").isNotNull, col("dn")),
          ignoreNulls = true).over(wNext))
        .withColumn("interp",
          when(col("rev").isNotNull, col("rev"))
            .otherwise(when(col("pv").isNull || col("nv").isNull, lit(null))
              .otherwise(expr(interpFml))))
        .select(col("n_name"),
          col("d").cast(org.apache.spark.sql.types.TimestampType).as("d"),
          round(col("interp"), 6).as("interp"),
          col("rev").isNotNull.as("is_obs"))
        .orderBy("n_name", "d")
    },
    Some(s"""WITH daily AS (
               SELECT n_name, CAST(o_orderdate AS DATE) AS d,
                      ${Det.sqlSum("o_totalprice")} AS rev
               FROM orders JOIN customer ON o_custkey = c_custkey
                           JOIN nation ON c_nationkey = n_nationkey
               WHERE o_orderdate >= '1995-01-01'
                 AND o_orderdate < '1995-04-01'
               GROUP BY 1, 2),
             spine AS (
               SELECT n_name, CAST(unnest(generate_series(
                        DATE '1995-01-01', DATE '1995-03-31',
                        INTERVAL 1 DAY)) AS DATE) AS d
               FROM nation),
             j AS (
               SELECT s.n_name, s.d, daily.rev,
                      CAST(s.d - DATE '1970-01-01' AS INTEGER) AS dn
               FROM spine s LEFT JOIN daily
                 ON s.n_name = daily.n_name AND s.d = daily.d),
             b AS (
               SELECT n_name, d, rev, dn,
                      last_value(rev IGNORE NULLS) OVER wp AS pv,
                      last_value(CASE WHEN rev IS NOT NULL THEN dn END
                        IGNORE NULLS) OVER wp AS pdn,
                      first_value(rev IGNORE NULLS) OVER wn AS nv,
                      first_value(CASE WHEN rev IS NOT NULL THEN dn END
                        IGNORE NULLS) OVER wn AS ndn
               FROM j
               WINDOW wp AS (PARTITION BY n_name ORDER BY dn
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY n_name ORDER BY dn
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
             SELECT n_name, CAST(d AS TIMESTAMP) AS d,
                    round(CASE WHEN rev IS NOT NULL THEN rev
                               WHEN pv IS NULL OR nv IS NULL THEN NULL
                               ELSE $interpFml END, 6) AS interp,
                    rev IS NOT NULL AS is_obs
             FROM b ORDER BY n_name, d"""))

  /** Slowly-changing-dimension TYPE 2 build — the warehouse-standard way to
    * keep attribute HISTORY: each change event becomes a versioned row with
    * an [eff_from, eff_to) validity interval, the open interval marking the
    * current version. Orders act as the change log of each customer's
    * priority attribute. One window over (change_ts, change_id) — the tie
    * key makes the version sequence a total order (the synthetic orderdate
    * has same-day changes per customer) — then `lead` closes each interval
    * with the next change's timestamp.
    *
    * Scale posture: a single shuffle on the dimension's natural key
    * (partitionBy custkey); no self-join formulation (the lead-window build
    * is O(n log n) per key vs the O(n²) "next change" theta-join some ETL
    * tools emit). At 100 TB the change log is date-partitioned and the
    * rebuild is incremental per partition (Incremental.materialize seam).
    */
  val qScd2Dim = Q(
    "q_scd2_dim",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("eff_from"), col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderpriority").as("attr"),
          col("o_orderdate").as("eff_from"))
        .withColumn("version", row_number().over(w))
        .withColumn("eff_to", lead(col("eff_from"), 1).over(w))
        .withColumn("is_current",
          when(col("eff_to").isNull, 1).otherwise(0)
            .cast(org.apache.spark.sql.types.IntegerType))
        .select("o_custkey", "version", "o_orderkey", "attr",
          "eff_from", "eff_to", "is_current")
        .orderBy("o_custkey", "version")
    },
    Some("""SELECT o_custkey, version, o_orderkey, attr, eff_from, eff_to,
                   is_current
            FROM (SELECT o_custkey,
                         CAST(row_number() OVER w AS INTEGER) AS version,
                         o_orderkey, o_orderpriority AS attr,
                         o_orderdate AS eff_from,
                         lead(o_orderdate, 1) OVER w AS eff_to,
                         CAST(CASE WHEN lead(o_orderdate, 1) OVER w IS NULL
                              THEN 1 ELSE 0 END AS INTEGER) AS is_current
                  FROM orders
                  WINDOW w AS (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey))
            ORDER BY o_custkey, version"""))

  /** Exponentially-weighted moving average over each user's purchase
    * stream — the smoothing shape monitoring/trend pipelines run. α = 1/2:
    * the lag weights 0.5, 0.25, 0.125, 0.0625 are exact powers of two, so
    * each product is an EXACT IEEE scaling and the whole chain is
    * bit-reproducible cross-engine with NO rounding. The numerator/
    * denominator formulas are generated once and injected into both the
    * Spark expr() and the DuckDB SQL (the JL doctrine), with explicit
    * left-assoc parenthesization; the window is 4 lags over
    * (ts, event_id) — one shuffle on user_id, O(1) state per row.
    */
  private val ewmaFormulas: (String, String) = {
    val num = "(((v + 0.5 * COALESCE(l1, 0.0)) + 0.25 * COALESCE(l2, 0.0))" +
      " + 0.125 * COALESCE(l3, 0.0)) + 0.0625 * COALESCE(l4, 0.0)"
    val den = "(((1.0 + (CASE WHEN l1 IS NULL THEN 0.0 ELSE 0.5 END))" +
      " + (CASE WHEN l2 IS NULL THEN 0.0 ELSE 0.25 END))" +
      " + (CASE WHEN l3 IS NULL THEN 0.0 ELSE 0.125 END))" +
      " + (CASE WHEN l4 IS NULL THEN 0.0 ELSE 0.0625 END)"
    (num, den)
  }

  /** 8-tap truncated kernels for Brown's double smoothing (α=1/2; see
    * qWinEwmaDouble). Tap j weights: S1 = 1/2^j, S2 = (j+1)/2^j — exact
    * binary fractions, so the literals below are exactly representable
    * and both engines fold identical doubles. Generated (not hand-typed)
    * so numerator and denominator tap order is identical text.
    */
  private val ewmaDoubleFormulas: (String, String, String, String) = {
    // exact decimal strings for 1/2^j, j = 0..7
    val pow2 = Seq("1.0", "0.5", "0.25", "0.125", "0.0625", "0.03125",
      "0.015625", "0.0078125")
    def taps(wts: Seq[String]): (String, String) = {
      val terms = wts.zipWithIndex.map { case (wt, j) =>
        if (j == 0) s"$wt * v" else s"$wt * COALESCE(l$j, 0.0)"
      }
      val dens = wts.zipWithIndex.map { case (wt, j) =>
        if (j == 0) wt
        else s"(CASE WHEN l$j IS NULL THEN 0.0 ELSE $wt END)"
      }
      (terms.mkString(" + "), dens.mkString(" + "))
    }
    val (n1, d1) = taps(pow2)
    val (n2, d2) = taps(pow2.zipWithIndex.map { case (p, j) =>
      // (j+1)/2^j as an exact product of two exact literals
      s"(${j + 1}.0 * $p)"
    })
    (n1, d1, n2, d2)
  }

  val qWinEwma = Q(
    "q_win_ewma",
    (s, dir) => {
      val (num, den) = ewmaFormulas
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"),
          col("value").as("v"))
        .withColumn("l1", lag(col("v"), 1).over(w))
        .withColumn("l2", lag(col("v"), 2).over(w))
        .withColumn("l3", lag(col("v"), 3).over(w))
        .withColumn("l4", lag(col("v"), 4).over(w))
        .select(col("user_id"), col("event_id"),
          (expr(s"($num)") / expr(s"($den)")).as("ewma"))
        .orderBy("user_id", "event_id")
    },
    Some {
      val (num, den) = ewmaFormulas
      s"""WITH p AS (SELECT user_id, event_id, ts, value AS v
                  FROM events WHERE event_type = 'purchase'),
             l AS (SELECT user_id, event_id,
                      lag(v, 1) OVER w AS l1, lag(v, 2) OVER w AS l2,
                      lag(v, 3) OVER w AS l3, lag(v, 4) OVER w AS l4, v
                   FROM p
                   WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
          SELECT user_id, event_id, (($num) / ($den)) AS ewma
          FROM l ORDER BY user_id, event_id"""
    })

  /** Ordered conversion funnel (view → click → purchase): a user counts at
    * step k only if step k's FIRST qualifying event is at-or-after the
    * user's step-(k−1) time — the order constraint that separates a funnel
    * from three independent counts. Each stage is a bounded per-user
    * aggregate joined forward (never a per-event self-join); output is the
    * 3-row step/user-count table an analytics dashboard renders.
    */
  val qFunnelSteps = Q(
    "q_funnel_steps",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val v = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("vt"))
      val c = ev.where(col("event_type") === "click")
        .join(v, "user_id").where(col("ts") >= col("vt"))
        .groupBy("user_id").agg(min(col("ts")).as("ct"))
      val p = ev.where(col("event_type") === "purchase")
        .join(c, "user_id").where(col("ts") >= col("ct"))
        .groupBy("user_id").agg(min(col("ts")).as("pt"))
      val one = (d: DataFrame, step: String, n: Int) =>
        d.agg(count(lit(1)).as("n_users"))
          .select(lit(n).as("step"), lit(step).as("step_name"),
            col("n_users"))
      one(v, "view", 1).union(one(c, "click_after_view", 2))
        .union(one(p, "purchase_after_click", 3))
        .orderBy("step")
    },
    Some("""WITH v AS (SELECT user_id, min(ts) AS vt FROM events
                 WHERE event_type = 'view' GROUP BY user_id),
            c AS (SELECT e.user_id, min(e.ts) AS ct FROM events e
                  JOIN v ON e.user_id = v.user_id AND e.ts >= v.vt
                  WHERE e.event_type = 'click' GROUP BY e.user_id),
            p AS (SELECT e.user_id, min(e.ts) AS pt FROM events e
                  JOIN c ON e.user_id = c.user_id AND e.ts >= c.ct
                  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
            SELECT 1 AS step, 'view' AS step_name,
                   count(*) AS n_users FROM v
            UNION ALL SELECT 2, 'click_after_view', count(*) FROM c
            UNION ALL SELECT 3, 'purchase_after_click', count(*) FROM p
            ORDER BY step"""))

  /** Batch sessionization with per-session VALUE stats — the explicit
    * gaps-and-islands formulation (lag → break flag → running sum → group),
    * complementing q_stream_session's session_window with the shape you
    * control directly at 100 TB: both windows and the final aggregate
    * share ONE shuffle on user_id, and the session id is a running count
    * of break flags so state per row is O(1). Break rule matches
    * session_window's exclusive merge (gap >= 30 min splits), compared in
    * exact integer MICROSECONDS on both engines (a seconds-truncated cast
    * would misclassify sub-second boundary gaps); (ts, event_id) ordering
    * makes the lag chain total.
    */
  val qSessionStats = Q(
    "q_session_stats",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          round(col("value") * 100)
            .cast(org.apache.spark.sql.types.DecimalType(18, 0))
            .cast(org.apache.spark.sql.types.LongType).as("c"))
        .withColumn("brk",
          when(unix_micros(col("ts")) -
            unix_micros(lag(col("ts"), 1).over(w)) >= 1800000000L, 1)
            .otherwise(0))
        .withColumn("sid", sum(col("brk")).over(wRun))
        .groupBy("user_id", "sid")
        .agg(min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts"))))
            .as("duration_us"),
          count(lit(1)).as("n_events"), sum(col("c")).as("sum_cents"))
        .drop("sid")
        .orderBy("user_id", "session_start")
    },
    Some(s"""WITH brk AS (
              SELECT user_id, ts, event_id,
                     ${Det.sqlRoundCents("value")} AS c,
                     CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER
                            (PARTITION BY user_id ORDER BY ts, event_id))
                          >= 1800000000 THEN 1 ELSE 0 END AS b
              FROM events),
            isl AS (
              SELECT user_id, ts, c,
                     SUM(b) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS sid
              FROM brk)
            SELECT user_id, min(ts) AS session_start,
                   max(ts) AS session_end,
                   epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
                   count(*) AS n_events,
                   CAST(sum(c) AS BIGINT) AS sum_cents
            FROM isl GROUP BY user_id, sid
            ORDER BY user_id, session_start"""))

  /** cume_dist — the remaining rank-family window function (fraction of
    * the partition at-or-below the current value). Ties share a value of
    * rows_le/n, so the output is deterministic without a tie-break; the
    * division is one IEEE op over two exact integers in both engines. NOTE (r11):
    * the partition key here has CONSTANT cardinality, so each partition
    * scales with the data — kept as the native window-API surface row;
    * the scale swap is Prefix's grouped two-phase decomposition, proven
    * bit-exact in-suite by q_agg_weighted_median / q_anomaly_iqr /
    * q_skyline_2d (and ntileFromRank for NTILE itself in
    * q_rfm_segments).
    */
  val qWinCumeDist = Q(
    "q_win_cume_dist",
    (s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("cents"))
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100)
            .cast(org.apache.spark.sql.types.DecimalType(18, 0))
            .cast(org.apache.spark.sql.types.LongType).as("cents"))
        .withColumn("cd", cume_dist().over(w))
        .select("o_orderkey", "o_orderpriority", "cd")
        .orderBy("o_orderkey")
    },
    Some(s"""SELECT o_orderkey, o_orderpriority, cd
            FROM (SELECT o_orderkey, o_orderpriority,
                         cume_dist() OVER (PARTITION BY o_orderpriority
                           ORDER BY ${Det.sqlRoundCents("o_totalprice")}) AS cd
                  FROM orders)
            ORDER BY o_orderkey"""))

  /** AS-OF snapshot reconstruction from the SCD2 dimension — the read-side
    * complement of q_scd2_dim (time travel without a table format: "what
    * did every customer's attribute look like on date D?"). A row is
    * current as-of D iff eff_from ≤ D < eff_to (open interval = current),
    * exactly one row per key qualifies by construction — validated by the
    * oracle running the same interval predicate over the same build. The
    * snapshot predicate is a FILTER, not a window: at 100 TB, as-of reads
    * must prune on eff_from/eff_to column stats rather than re-rank
    * history.
    */
  val qScd2Asof = Q(
    "q_scd2_asof",
    (s, dir) => {
      val asOf = lit("1996-06-01").cast("timestamp")
      qScd2Dim.fn(s, dir)
        .where(col("eff_from") <= asOf &&
          (col("eff_to").isNull || col("eff_to") > asOf))
        .groupBy("attr")
        .agg(count(lit(1)).as("n_customers"),
          min(col("o_custkey")).as("min_cust"),
          max(col("o_custkey")).as("max_cust"),
          sum(col("version")).as("sum_version"))
        .orderBy("attr")
    },
    Some(s"""WITH scd AS (${graft.Det.sqlDropOrderBy(
        qScd2Dim.oracle.get, "ORDER BY o_custkey, version")})
             SELECT attr, count(*) AS n_customers,
                    min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
                    CAST(sum(version) AS BIGINT) AS sum_version
             FROM scd
             WHERE eff_from <= TIMESTAMP '1996-06-01 00:00:00'
               AND (eff_to IS NULL OR eff_to > TIMESTAMP '1996-06-01 00:00:00')
             GROUP BY attr ORDER BY attr"""))

  /** Ratio-to-report: each order's share of its priority class's revenue —
    * the per-row normalization primitive behind contribution reports and
    * sampling weights. One unordered partition window (exact long sum) +
    * one IEEE division; deterministic without tie-breaks — and the
    * unordered sum-over-partition swaps to a plain groupBy + join at
    * scale (no ordered window needed at all). NOTE (r11):
    * the partition key here has CONSTANT cardinality, so each partition
    * scales with the data — kept as the native window-API surface row;
    * the scale swap is Prefix's grouped two-phase decomposition, proven
    * bit-exact in-suite by q_agg_weighted_median / q_anomaly_iqr /
    * q_skyline_2d (and ntileFromRank for NTILE itself in
    * q_rfm_segments).
    */
  val qWinRatioToReport = Q(
    "q_win_ratio_to_report",
    (s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100)
            .cast(org.apache.spark.sql.types.DecimalType(18, 0))
            .cast(org.apache.spark.sql.types.LongType).as("cents"))
        .withColumn("share",
          col("cents").cast("double") /
            sum(col("cents")).over(w).cast("double"))
        .select("o_orderkey", "o_orderpriority", "share")
        .orderBy("o_orderkey")
    },
    Some(s"""SELECT o_orderkey, o_orderpriority,
                   CAST(cents AS DOUBLE) /
                   CAST(sum(cents) OVER (PARTITION BY o_orderpriority)
                        AS DOUBLE) AS share
            FROM (SELECT o_orderkey, o_orderpriority,
                         ${Det.sqlRoundCents("o_totalprice")} AS cents
                  FROM orders)
            ORDER BY o_orderkey"""))

  /** dense_rank — rank without gaps after ties, completing the rank
    * family (rank/row_number/ntile/percent_rank/cume_dist elsewhere in
    * §2.E): suppliers dense-ranked by integer-cents balance within
    * nation. Ties share a rank deterministically (no tie-break needed for
    * the RANK value); the output also carries s_suppkey so the row set
    * is totally ordered. NOTE (r11):
    * the partition key here has CONSTANT cardinality, so each partition
    * scales with the data — kept as the native window-API surface row;
    * the scale swap is Prefix's grouped two-phase decomposition, proven
    * bit-exact in-suite by q_agg_weighted_median / q_anomaly_iqr /
    * q_skyline_2d (and ntileFromRank for NTILE itself in
    * q_rfm_segments).
    */
  val qWinDenseRank = Q(
    "q_win_dense_rank",
    (s, dir) => {
      val w = Window.partitionBy("s_nationkey")
        .orderBy(col("bal_cents").desc)
      Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey"),
          round(col("s_acctbal") * 100)
            .cast(org.apache.spark.sql.types.DecimalType(18, 0))
            .cast(org.apache.spark.sql.types.LongType).as("bal_cents"))
        .withColumn("drk", dense_rank().over(w))
        .where(col("drk") <= 5)
        .select("s_nationkey", "drk", "s_suppkey", "bal_cents")
        .orderBy("s_nationkey", "drk", "s_suppkey")
    },
    Some(s"""SELECT s_nationkey, drk, s_suppkey, bal_cents
            FROM (SELECT s_nationkey, s_suppkey,
                         ${Det.sqlRoundCents("s_acctbal")}
                           AS bal_cents,
                         CAST(dense_rank() OVER (PARTITION BY s_nationkey
                           ORDER BY ${Det.sqlRoundCents("s_acctbal")}
                           DESC) AS INTEGER) AS drk
                  FROM supplier)
            WHERE drk <= 5 ORDER BY s_nationkey, drk, s_suppkey"""))

  /** Longest consecutive-day activity streak per user (the DAU/retention
    * streak metric): distinct active days → integer day numbers →
    * gaps-and-islands (a day starts a new streak iff the previous active
    * day is not exactly 1 before it) → longest island per user. All
    * integer arithmetic on epoch-day numbers — no timestamp math in the
    * streak logic itself, so the only cross-engine surface is the
    * ts→date bucketing both engines already agree on (UTC).
    */
  val qWinStreak = Q(
    "q_win_streak",
    (s, dir) => {
      val wU = Window.partitionBy("user_id").orderBy("day_num")
      val wRun = wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // distinct() FIRST, then window — deliberately two exchanges, not
      // the one-exchange "dedup via adjacent-lag inside the user window"
      // formulation: distinct's map-side partial aggregation shrinks the
      // stream (events ≫ user-days; ~13× here, unbounded at 100 TB)
      // BEFORE anything crosses the wire, while the single-exchange form
      // would shuffle AND sort the full event stream. Fewer exchanges is
      // not the objective — fewer shuffled BYTES is.
      val days = Tables.events(s, dir)
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("1970-01-01")).as("day_num"))
        .distinct()
      days
        .withColumn("brk",
          when(col("day_num") - lag(col("day_num"), 1).over(wU) === 1, 0)
            .otherwise(1))
        .withColumn("sid", sum(col("brk")).over(wRun))
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(max(col("len")).as("longest_streak_days"),
          sum(col("len")).as("n_active_days"),
          count(lit(1)).as("n_streaks"))
        .orderBy("user_id")
    },
    Some("""WITH days AS (SELECT DISTINCT user_id,
                   CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INTEGER)
                     AS day_num
                 FROM events),
            brk AS (SELECT user_id, day_num,
                      CASE WHEN day_num - lag(day_num) OVER
                             (PARTITION BY user_id ORDER BY day_num) = 1
                           THEN 0 ELSE 1 END AS b
                    FROM days),
            isl AS (SELECT user_id,
                      SUM(b) OVER (PARTITION BY user_id ORDER BY day_num
                        ROWS UNBOUNDED PRECEDING) AS sid
                    FROM brk),
            runs AS (SELECT user_id, sid, count(*) AS len
                     FROM isl GROUP BY user_id, sid)
            SELECT user_id,
                   max(len) AS longest_streak_days,
                   CAST(sum(len) AS BIGINT) AS n_active_days,
                   count(*) AS n_streaks
            FROM runs GROUP BY user_id ORDER BY user_id"""))

  /** Interval MERGE (union of overlapping ranges) per key — the validity-
    * period consolidation primitive (contract coverage, downtime windows,
    * speech/video segment union) that q_win_streak's point-based islands
    * can't express: an interval can bridge a gap its start point alone
    * would break on. Each order opens a 30-day interval; a new island
    * starts iff the interval's start lies strictly past the RUNNING MAX of
    * all previous ends (rows-frame up to 1 preceding — max is
    * order-independent within the frame, and all arithmetic is integer
    * epoch-days, so the oracle is bit-exact). One exchange on the key: the
    * window shuffles on o_custkey, and both downstream aggregates reuse
    * that partitioning (groupBy (k, island) and groupBy k are satisfied by
    * HashPartitioning(k) — plan-asserted in PlanAuditSpec).
    */
  val qWinIntervalMerge = Q(
    "q_win_interval_merge",
    (s, dir) => {
      val wPrev = Window.partitionBy("k").orderBy("sdn", "edn")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy("k").orderBy("sdn", "edn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, dir)
        .select(col("o_custkey").as("k"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
            .as("sdn"))
        .withColumn("edn", col("sdn") + 30)
        .withColumn("pmax", max(col("edn")).over(wPrev))
        .withColumn("brk",
          when(col("pmax").isNull || col("sdn") > col("pmax"), 1)
            .otherwise(0))
        .withColumn("sid", sum(col("brk")).over(wRun))
        .groupBy("k", "sid")
        .agg(min(col("sdn")).as("ist"), max(col("edn")).as("ien"),
          count(lit(1)).as("n_src"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_merged"),
          sum(col("ien") - col("ist")).as("covered_days"),
          max(col("ien") - col("ist")).as("longest_days"),
          sum(col("n_src")).as("n_orders"))
        .orderBy("k")
    },
    Some("""WITH ints AS (SELECT o_custkey AS k,
                   CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                     AS INTEGER) AS sdn,
                   CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                     AS INTEGER) + 30 AS edn
                 FROM orders),
            brk AS (SELECT k, sdn, edn,
                      max(edn) OVER (PARTITION BY k ORDER BY sdn, edn
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        AS pmax
                    FROM ints),
            isl AS (SELECT k, sdn, edn,
                      SUM(CASE WHEN pmax IS NULL OR sdn > pmax
                               THEN 1 ELSE 0 END)
                        OVER (PARTITION BY k ORDER BY sdn, edn
                          ROWS UNBOUNDED PRECEDING) AS sid
                    FROM brk),
            runs AS (SELECT k, sid, min(sdn) AS ist, max(edn) AS ien,
                            count(*) AS n_src
                     FROM isl GROUP BY k, sid)
            SELECT k, count(*) AS n_merged,
                   CAST(sum(ien - ist) AS BIGINT) AS covered_days,
                   max(ien - ist) AS longest_days,
                   CAST(sum(n_src) AS BIGINT) AS n_orders
            FROM runs GROUP BY k ORDER BY k"""))

  /** First-order Markov transition matrix over the event stream — the
    * sequence model behind next-action prediction, funnel leak analysis
    * and session simulators: P(next event type | current event type).
    * Per-user successor via one lead() window (ordered by (ts, event_id)
    * for a total order even under timestamp ties), then transition counts
    * and row-normalized probabilities. Counts are exact integers; the
    * probability is the ONE IEEE division, performed on identical operands
    * in both engines. Scale: the user window is one shuffle on user_id
    * (O(events) rows); the transition matrix itself is bounded by
    * |event types|² — a broadcast-sized result no matter the corpus, with
    * the per-source total computed by a window over that tiny table
    * (reuses the groupBy partitioning, no extra join).
    */
  val qMarkovTransitions = Q(
    "q_markov_transitions",
    (s, dir) => {
      val wNext = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("src"))
        .withColumn("dst", lead(col("src"), 1).over(wNext))
        .where(col("dst").isNotNull)
        .groupBy("src", "dst")
        .agg(count(lit(1)).as("n"))
        .withColumn("tot",
          sum(col("n")).over(Window.partitionBy("src")))
        .select(col("src"), col("dst"), col("n"),
          (col("n").cast(org.apache.spark.sql.types.DoubleType) /
            col("tot").cast(org.apache.spark.sql.types.DoubleType)).as("p"))
        .orderBy("src", "dst")
    },
    Some("""WITH seq AS (SELECT event_type AS src,
                    lead(event_type) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS dst
                  FROM events),
             t AS (SELECT src, dst, count(*) AS n
                   FROM seq WHERE dst IS NOT NULL GROUP BY src, dst),
             tt AS (SELECT src, dst, n,
                      CAST(sum(n) OVER (PARTITION BY src) AS BIGINT) AS tot
                    FROM t)
            SELECT src, dst, n, CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS p
            FROM tt ORDER BY src, dst"""))

  /** Held-out NEXT-EVENT PREDICTION accuracy for the Markov chain —
    * the evaluation that turns q_markov_transitions from a descriptive
    * table into a scored model: transitions counted on the 80%
    * TRAIN-user split (portable hash on user_id — split by USER, not
    * by row, so no user's history leaks across the boundary), the
    * predictor is argmax count per source state (deterministic
    * (n DESC, dst) election on the bounded |types|² grid), scored by
    * top-1 accuracy over TEST-user transitions. Unseen sources predict
    * NULL and score 0 — the honest treatment, not a silent drop. All
    * integer counts, two shared divisions (per-source and overall).
    * Scale: two user-partitioned window passes + bounded grids; the
    * eval join is per-source against a ≤|types| broadcast.
    */
  val qSeqMarkovEval = Q(
    "q_seq_markov_eval",
    (s, dir) => {
      val wNext = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val base = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("src"),
          (pmod(graft.Det.pHash60(col("user_id")), lit(5)) === 0)
            .as("is_test"))
        .withColumn("dst", lead(col("src"), 1).over(wNext))
        .where(col("dst").isNotNull)
      val pred = base.where(!col("is_test"))
        .groupBy("src", "dst").agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("src").orderBy(col("n").desc, col("dst"))))
        .where(col("rk") === 1)
        .select(col("src"), col("dst").as("pred"),
          col("n").as("n_train_top"))
      val scored = base.where(col("is_test"))
        .groupBy("src", "dst").agg(count(lit(1)).as("n"))
        .join(broadcast(pred), Seq("src"), "left")
        .groupBy(col("src"), col("pred"))
        .agg(sum(col("n")).as("n_test"),
          sum(when(col("dst") === col("pred"), col("n")).otherwise(0L))
            .as("n_correct"))
      val overall = scored.agg(
        expr("CAST(sum(n_correct) AS DOUBLE) / CAST(sum(n_test) AS DOUBLE)")
          .as("overall_acc"))
      scored.crossJoin(broadcast(overall))
        .select(col("src"), col("pred"), col("n_test"), col("n_correct"),
          expr("CAST(n_correct AS DOUBLE) / CAST(n_test AS DOUBLE)")
            .as("acc"),
          col("overall_acc"))
        .orderBy("src")
    },
    Some(s"""WITH base AS (
              SELECT user_id, event_type AS src,
                     lead(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS dst,
                     ((${graft.Det.sqlPHash60("user_id")}) % 5 + 5) % 5 = 0
                       AS is_test
              FROM events),
             b2 AS (SELECT * FROM base WHERE dst IS NOT NULL),
             tr AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
                    FROM b2 WHERE NOT is_test GROUP BY 1, 2),
             pred AS (SELECT src, dst AS pred, n AS n_train_top
                      FROM (SELECT src, dst, n, row_number() OVER (
                              PARTITION BY src ORDER BY n DESC, dst) AS rk
                            FROM tr) WHERE rk = 1),
             te AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS n
                    FROM b2 WHERE is_test GROUP BY 1, 2),
             scored AS (SELECT te.src, pred,
                          CAST(sum(n) AS BIGINT) AS n_test,
                          CAST(sum(CASE WHEN dst = pred THEN n ELSE 0 END)
                            AS BIGINT) AS n_correct
                        FROM te LEFT JOIN pred ON te.src = pred.src
                        GROUP BY te.src, pred),
             ov AS (SELECT CAST(sum(n_correct) AS DOUBLE)
                      / CAST(sum(n_test) AS DOUBLE) AS overall_acc
                    FROM scored)
            SELECT src, pred, n_test, n_correct,
                   CAST(n_correct AS DOUBLE) / CAST(n_test AS DOUBLE)
                     AS acc,
                   overall_acc
            FROM scored, ov ORDER BY src"""))

  /** SECOND-ORDER Markov transitions — the (state₋₂, state₋₁) → next
    * trigram model over per-user event sequences, the memory-2 upgrade
    * of q_markov_transitions' bigram chain (the standard test for
    * whether a funnel is actually first-order Markov: compare
    * p(c | a,b) against p(c | b)). Same total order (ts, event_id),
    * two leads instead of one, counts exact, conditional probability =
    * one shared division against the (a, b) context total. Scale: one
    * user-partitioned window pass + a bounded (|types|³ ≤ 125-row)
    * aggregate; the context-total window runs over that bounded result.
    */
  val qSeqMarkov2 = Q(
    "q_seq_markov2",
    (s, dir) => {
      val wNext = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("s2"))
        .withColumn("s1", lead(col("s2"), 1).over(wNext))
        .withColumn("nxt", lead(col("s2"), 2).over(wNext))
        .where(col("nxt").isNotNull)
        .groupBy("s2", "s1", "nxt")
        .agg(count(lit(1)).as("n"))
        .withColumn("tot",
          sum(col("n")).over(Window.partitionBy("s2", "s1")))
        .select(col("s2").as("prev2"), col("s1").as("prev1"),
          col("nxt").as("next_state"), col("n"),
          (col("n").cast(org.apache.spark.sql.types.DoubleType) /
            col("tot").cast(org.apache.spark.sql.types.DoubleType))
            .as("p"))
        .orderBy("prev2", "prev1", "next_state")
    },
    Some("""WITH seq AS (SELECT event_type AS s2,
                    lead(event_type, 1) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS s1,
                    lead(event_type, 2) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS nxt
                  FROM events),
             t AS (SELECT s2, s1, nxt, count(*) AS n
                   FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2, 3),
             tt AS (SELECT s2, s1, nxt, n,
                      CAST(sum(n) OVER (PARTITION BY s2, s1) AS BIGINT)
                        AS tot
                    FROM t)
            SELECT s2 AS prev2, s1 AS prev1, nxt AS next_state, n,
                   CAST(n AS DOUBLE) / CAST(tot AS DOUBLE) AS p
            FROM tt ORDER BY prev2, prev1, next_state"""))

  /** Dense calendar spine — the densification step every time-series
    * rollup needs before resampling/joining (BI calendars, SLA windows,
    * forecasting frames): generate EVERY day in the data's own [min, max]
    * span and left-join the daily rollup onto it, zero-filling the days
    * with no orders (2399 of ~2404 days are present in the synthetic
    * span — the holes are what the spine repairs). The span comes from a
    * 1-row min/max aggregate and the spine is generated IN-PLAN
    * (sequence + explode — no driver loop, no collected bounds); the
    * daily rollup is a bounded-key two-phase aggregate; the join
    * broadcasts the spine side only if tiny — at a 100-year span it is
    * still only ~36k rows, driver-negligible either way.
    */
  val qCalendarSpine = Q(
    "q_calendar_spine",
    (s, dir) => {
      val span = Tables.orders(s, dir)
        .agg(to_date(min(col("o_orderdate"))).as("d0"),
          to_date(max(col("o_orderdate"))).as("d1"))
      val spine = span.select(
        explode(expr("sequence(d0, d1, interval 1 day)")).as("d"))
      val daily = Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("n_orders"),
          Det.dsum(col("o_totalprice")).as("rev"))
      spine.join(daily, Seq("d"), "left")
        .select(
          col("d").cast(org.apache.spark.sql.types.TimestampType).as("d"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("rev"), lit(0.0)).as("rev"),
          col("n_orders").isNull.as("is_missing"))
        .orderBy("d")
    },
    Some(s"""WITH span AS (SELECT CAST(min(o_orderdate) AS DATE) AS d0,
                      CAST(max(o_orderdate) AS DATE) AS d1 FROM orders),
             spine AS (SELECT CAST(unnest(generate_series(d0, d1,
                         INTERVAL 1 DAY)) AS DATE) AS d FROM span),
             daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
                         count(*) AS n_orders,
                         ${Det.sqlSum("o_totalprice")} AS rev
                       FROM orders GROUP BY 1)
            SELECT CAST(s.d AS TIMESTAMP) AS d,
                   COALESCE(daily.n_orders, 0) AS n_orders,
                   COALESCE(daily.rev, CAST(0.0 AS DOUBLE)) AS rev,
                   daily.n_orders IS NULL AS is_missing
            FROM spine s LEFT JOIN daily USING (d) ORDER BY d"""))

  /** Rolling MEDIAN over a 7-row frame — the robust smoother metric
    * pipelines use where a rolling mean would chase outliers (latency
    * dashboards, spike-resistant trend lines). Spark has no exact median
    * window function, so the frame is materialized as a SORTED ARRAY
    * (collect_list over a 7-row frame, sort_array) and the median read
    * off explicitly; the oracle builds the IDENTICAL construction with
    * list(…) OVER + list_sort — both engines then take the same element
    * for odd frames (exact) or the same one-add-one-divide for even
    * frames, so the result is bit-exact (no quantile interpolation
    * ambiguity). Inputs are Det-decimal daily sums, deterministic by
    * doctrine. Scale: the frame is O(7) per row — the array never grows
    * with the data; one shuffle on the partition key serves the window
    * and the output sort reuses nothing heavier than the bounded daily
    * rollup (bounded keys: flag × day).
    */
  val qWinRollingMedian = Q(
    "q_win_rolling_median",
    (s, dir) => {
      val daily = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("flag"),
          to_date(col("l_shipdate")).as("d"))
        .agg(Det.dsum(col("l_extendedprice")).as("rev"))
      val wFrame = Window.partitionBy("flag").orderBy("d").rowsBetween(-6, 0)
      daily
        .withColumn("arr", sort_array(collect_list(col("rev")).over(wFrame)))
        .withColumn("med", expr(
          "CASE WHEN size(arr) % 2 = 1 " +
            "THEN element_at(arr, CAST(size(arr) div 2 + 1 AS INT)) " +
            "ELSE (element_at(arr, CAST(size(arr) div 2 AS INT)) " +
            "+ element_at(arr, CAST(size(arr) div 2 + 1 AS INT))) " +
            "/ CAST(2.0 AS DOUBLE) END"))
        .select(col("flag"),
          col("d").cast(org.apache.spark.sql.types.TimestampType).as("d"),
          size(col("arr")).as("n_frame"), col("med"))
        .orderBy("flag", "d")
    },
    Some(s"""WITH daily AS (SELECT l_returnflag AS flag,
                      CAST(l_shipdate AS DATE) AS d,
                      ${Det.sqlSum("l_extendedprice")} AS rev
                    FROM lineitem GROUP BY 1, 2),
             fr AS (SELECT flag, d,
                      list_sort(list(rev) OVER (PARTITION BY flag ORDER BY d
                        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS arr
                    FROM daily)
            SELECT flag, CAST(d AS TIMESTAMP) AS d,
                   CAST(len(arr) AS INT) AS n_frame,
                   CASE WHEN len(arr) % 2 = 1
                        THEN arr[len(arr) // 2 + 1]
                        ELSE (arr[len(arr) // 2] + arr[len(arr) // 2 + 1])
                             / CAST(2.0 AS DOUBLE) END AS med
            FROM fr ORDER BY flag, d"""))

  /** Running drawdown — the monitoring/finance curve metric (how far
    * below its best-so-far a series has fallen; alerting and
    * risk-of-ruin both read it): per-flag daily revenue, running peak =
    * max over the unbounded-preceding frame (max is order-free and
    * exact), drawdown = peak − current (one IEEE subtraction on
    * identical operands in both engines — the Det daily sums are already
    * bit-identical). Scale: one shuffle on the partition key; the
    * running max is O(1) state per row.
    */
  val qWinDrawdown = Q(
    "q_win_drawdown",
    (s, dir) => {
      val wRun = Window.partitionBy("flag").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("flag"),
          to_date(col("l_shipdate")).as("d"))
        .agg(Det.dsum(col("l_extendedprice")).as("rev"))
        .withColumn("peak", max(col("rev")).over(wRun))
        .withColumn("dd", col("peak") - col("rev"))
        .select(col("flag"),
          col("d").cast(org.apache.spark.sql.types.TimestampType).as("d"),
          col("rev"), col("peak"), col("dd"))
        .orderBy("flag", "d")
    },
    Some(s"""WITH daily AS (SELECT l_returnflag AS flag,
                      CAST(l_shipdate AS DATE) AS d,
                      ${Det.sqlSum("l_extendedprice")} AS rev
                    FROM lineitem GROUP BY 1, 2)
            SELECT flag, CAST(d AS TIMESTAMP) AS d, rev,
                   max(rev) OVER (PARTITION BY flag ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS peak,
                   max(rev) OVER (PARTITION BY flag ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - rev AS dd
            FROM daily ORDER BY flag, d"""))

  /** Last-touch attribution — the marketing-analytics join of purchases
    * back to the most recent preceding engagement (click/view) in the
    * same user's stream: one `last(…, ignoreNulls)` window over
    * (ts, event_id) — a total order, so the credited touch is
    * deterministic — then revenue rolled up per touch type, with
    * touchless purchases credited to '(organic)' (spelled explicitly:
    * NULL group ordering differs across engines). Scale: one shuffle on
    * user_id serves the window; the rollup is bounded by the event-type
    * vocabulary.
    */
  val qAttributionLastTouch = Q(
    "q_attribution_last_touch",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("touch",
          last(when(col("event_type").isin("click", "view"),
            col("event_type")), ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .groupBy(coalesce(col("touch"), lit("(organic)")).as("touch_type"))
        .agg(count(lit(1)).as("n_purchases"),
          Det.dsum(col("value")).as("revenue"))
        .orderBy("touch_type")
    },
    Some(s"""WITH t AS (SELECT event_type, value,
                    last_value(CASE WHEN event_type IN ('click', 'view')
                                    THEN event_type END IGNORE NULLS)
                      OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS touch
                  FROM events)
            SELECT COALESCE(touch, '(organic)') AS touch_type,
                   count(*) AS n_purchases,
                   ${Det.sqlSum("value")} AS revenue
            FROM t WHERE event_type = 'purchase'
            GROUP BY 1 ORDER BY touch_type"""))

  /** LINEAR multi-touch attribution — the equal-split complement of
    * q_attribution_last_touch (last-touch over-credits the final click;
    * linear spreads each conversion's value across every same-day prior
    * touch): purchase value in integer micro-units (cents·1000), each
    * touch TYPE's share = (micro · type_touches) div n_touches —
    * deterministic integer truncation (≤1 micro-unit lost per
    * purchase-type, the alloc_proration trade documented there), summed
    * exactly; purchases with no same-day prior touch credit '(organic)'
    * in full. The touch join is (user, day)-keyed with a strict
    * (ts, event_id) tuple order — per-day fan-out bounds the pair count
    * (the classic attribution-window bound; an unbounded lookback joins
    * the user's whole history). Final money column is ONE shared-text
    * division of the exact micro sum.
    */
  // ── Markov removal-effect attribution: shared text generators ──
  // Transient channel states (code -> raw event_type); CV/NU are the
  // absorbing conversion / dropout states, S the start pseudo-state.
  private val mkStates =
    Seq("vw" -> "view", "ck" -> "click", "su" -> "signup", "er" -> "error")
  private val mkSrcs = "S" +: mkStates.map(_._1)
  private val mkDsts = mkStates.map(_._1) ++ Seq("CV", "NU")
  private val mkVariants = "full" +: mkStates.map(_._1)
  private val mkProbNames =
    for (s0 <- mkSrcs; d <- mkDsts) yield s"p_${s0}_$d"

  private def mkCountExprs: Seq[String] =
    for (s0 <- mkSrcs; d <- mkDsts) yield
      s"CAST(SUM(CASE WHEN src = '$s0' AND dst = '$d' THEN 1 ELSE 0 END)" +
        s" AS BIGINT) AS c_${s0}_$d"

  private def mkTotExprs: Seq[String] =
    mkSrcs.map(s0 =>
      mkDsts.map(d => s"c_${s0}_$d").mkString(" + ") + s" AS tot_$s0")

  private def mkProbExprs: Seq[String] =
    for (s0 <- mkSrcs; d <- mkDsts) yield
      s"CASE WHEN tot_$s0 > 0 THEN CAST(c_${s0}_$d AS DOUBLE) " +
        s"/ CAST(tot_$s0 AS DOUBLE) ELSE 0.0 END AS p_${s0}_$d"

  /** v_<variant>_<state> = transient mass, cv_<variant> = absorbed
    * conversion mass; variant r removes channel r (its inbound edges
    * redirect to dropout — mass entering it is simply never created).
    */
  private def mkInitExprs: Seq[String] =
    mkVariants.flatMap { r =>
      mkStates.map(_._1).map { j =>
        val e = if (j == r) "0.0" else s"p_S_$j"
        s"$e AS v_${r}_$j"
      } :+ s"p_S_CV AS cv_$r"
    }

  private def mkIterExprs: Seq[String] =
    mkVariants.flatMap { r =>
      val ts = mkStates.map(_._1)
      ts.map { j =>
        val e =
          if (j == r) "0.0"
          else ts.map(i => s"v_${r}_$i * p_${i}_$j").mkString(" + ")
        s"($e) AS v_${r}_$j"
      } :+ (s"(cv_$r + " +
        ts.map(i => s"v_${r}_$i * p_${i}_CV").mkString(" + ") +
        s") AS cv_$r")
    }

  private def mkReExprs: Seq[String] =
    mkStates.map(_._1).map(r =>
      s"CASE WHEN cv_full > CAST(0 AS DOUBLE) " +
        s"THEN 1.0 - cv_$r / cv_full ELSE 0.0 END AS re_$r") :+
      (mkStates.map(_._1).map(r => s"(CASE WHEN cv_full > " +
        s"CAST(0 AS DOUBLE) THEN 1.0 - cv_$r / cv_full ELSE 0.0 END)")
        .mkString(" + ") + " AS retot")

  private val mkSrcCode =
    "CASE event_type WHEN 'view' THEN 'vw' WHEN 'click' THEN 'ck' " +
      "WHEN 'signup' THEN 'su' WHEN 'error' THEN 'er' END"
  private val mkDstCode =
    "CASE WHEN nxt IS NULL THEN 'NU' WHEN nxt = 'purchase' THEN 'CV' " +
      "WHEN nxt = 'view' THEN 'vw' WHEN nxt = 'click' THEN 'ck' " +
      "WHEN nxt = 'signup' THEN 'su' ELSE 'er' END"

  /** Markov-chain (removal-effect) attribution — the DATA-DRIVEN
    * multi-touch model next to the suite's positional ones (last-touch
    * credits recency, linear splits equally; the Markov model credits a
    * channel by HOW MUCH CONVERSION DISAPPEARS WITHOUT IT — the standard
    * removal-effect formulation): user journeys (events to first
    * purchase, else dropout) become a first-order chain over
    * {view, click, signup, error} with absorbing CONV/NULL; absorption
    * probability is computed by a K=12-step truncated power iteration ON
    * THE SINGLE transition-probability row — the PCA doctrine at 5
    * variants (full chain + each channel removed), all generated shared
    * formula text over exact-count-derived doubles, so both engines walk
    * the identical arithmetic (semantics ARE the K-step truncation,
    * stated). Removal effect r = 1 − P_conv(without r)/P_conv(full);
    * attribution share normalizes them. Scale: journey extraction is
    * one user_id exchange; everything after the bounded (5×6) count
    * aggregate is O(1) row arithmetic.
    */
  val qAttributionMarkov = Q(
    "q_attribution_markov",
    (s, dir) => {
      val types = Seq("view", "click", "signup", "error", "purchase")
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      // first-purchase cut as a same-pass window min (NOT a self-join:
      // one user_id exchange serves rn, prn and the lead below — the
      // events table is scanned once)
      val wAll = Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val base = Tables.events(s, dir)
        .where(col("event_type").isin(types: _*))
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("rn", row_number().over(w))
        .withColumn("prn", min(
          when(col("event_type") === "purchase", col("rn"))).over(wAll))
      val kept = base
        .where(col("prn").isNull || col("rn") <= col("prn"))
      val w2 = Window.partitionBy("user_id").orderBy("rn")
      val steps = kept
        .withColumn("nxt", lead(col("event_type"), 1).over(w2))
        .where(col("event_type") =!= "purchase")
        .select(expr(mkSrcCode).as("src"), expr(mkDstCode).as("dst"))
      val starts = kept.where(col("rn") === 1)
        .select(lit("S").as("src"),
          expr("CASE WHEN event_type = 'purchase' THEN 'CV' ELSE " +
            s"($mkSrcCode) END").as("dst"))
      var frame = steps.unionByName(starts)
        .agg(expr(mkCountExprs.head),
          mkCountExprs.tail.map(e => expr(e)): _*)
      frame = frame.selectExpr(("*" +: mkTotExprs): _*)
        .selectExpr(mkProbExprs: _*)
        .selectExpr(("*" +: mkInitExprs): _*)
      for (_ <- 1 to 12)
        frame = frame.selectExpr(
          (mkProbNames ++ mkIterExprs): _*)
      val fin = frame.selectExpr(("*" +: mkReExprs): _*)
      mkStates.map { case (code, name) =>
        fin.selectExpr(s"'$name' AS channel", "cv_full AS p_conv_full",
          s"cv_$code AS p_conv_removed", s"re_$code AS removal_effect",
          s"CASE WHEN retot > CAST(0 AS DOUBLE) THEN re_$code / retot " +
            "ELSE NULL END AS share")
      }.reduce(_ unionByName _).orderBy("channel")
    },
    Some {
      val iters = (1 to 12).map { k =>
        val prev = if (k == 1) "it0" else s"it${k - 1}"
        s"it$k AS (SELECT ${(mkProbNames ++ mkIterExprs).mkString(", ")} " +
          s"FROM $prev)"
      }.mkString(",\n             ")
      val rows = mkStates.map { case (code, name) =>
        s"SELECT '$name' AS channel, cv_full AS p_conv_full, " +
          s"cv_$code AS p_conv_removed, re_$code AS removal_effect, " +
          s"CASE WHEN retot > CAST(0 AS DOUBLE) THEN re_$code / retot " +
          s"ELSE NULL END AS share FROM fin"
      }.mkString(" UNION ALL ")
      s"""WITH base AS (SELECT user_id, ts, event_id, event_type,
                    row_number() OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS rn
                  FROM events WHERE event_type IN
                    ('view','click','signup','error','purchase')),
             fp AS (SELECT user_id, min(rn) AS prn FROM base
                    WHERE event_type = 'purchase' GROUP BY user_id),
             kept AS (SELECT base.*, prn FROM base
                      LEFT JOIN fp ON base.user_id = fp.user_id
                      WHERE prn IS NULL OR rn <= prn),
             stp AS (SELECT event_type, lead(event_type) OVER (
                       PARTITION BY user_id ORDER BY rn) AS nxt
                     FROM kept),
             steps AS (SELECT $mkSrcCode AS src, $mkDstCode AS dst
                       FROM stp WHERE event_type <> 'purchase'),
             starts AS (SELECT 'S' AS src,
                     CASE WHEN event_type = 'purchase' THEN 'CV'
                          ELSE ($mkSrcCode) END AS dst
                   FROM kept WHERE rn = 1),
             tr AS (SELECT * FROM steps UNION ALL SELECT * FROM starts),
             cnt AS (SELECT ${mkCountExprs.mkString(", ")} FROM tr),
             tot AS (SELECT *, ${mkTotExprs.mkString(", ")} FROM cnt),
             prb AS (SELECT ${mkProbExprs.mkString(", ")} FROM tot),
             it0 AS (SELECT *, ${mkInitExprs.mkString(", ")} FROM prb),
             $iters,
             fin AS (SELECT *, ${mkReExprs.mkString(", ")} FROM it12)
            SELECT * FROM ($rows) ORDER BY channel"""
    })

  val qAttributionLinear = Q(
    "q_attribution_linear",
    (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts"),
          to_date(col("ts")).as("day"), col("event_type"),
          Det.cents("value").as("c"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"), col("day"),
          col("ts").as("pts"), col("c"))
      val touches = ev.where(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("day"), col("ts").as("tts"),
          col("event_id").as("tid"), col("event_type").as("touch_type"))
      val pairs = purchases.join(touches, Seq("user_id", "day"))
        .where(col("tts") < col("pts") ||
          (col("tts") === col("pts") && col("tid") < col("pid")))
      // the (purchase, type) counts are O(purchases·|types|) — checkpoint
      // them so the day-bounded pair join (the expensive subtree) runs
      // ONCE for its three consumers (credits, totals, organic anti-join)
      // instead of being re-derived per consumer
      val byType = pairs.groupBy("pid", "c", "touch_type")
        .agg(count(lit(1)).as("ct"))
        .localCheckpoint(true)
      val totals = byType.groupBy("pid")
        .agg(sum(col("ct")).as("n"))
      val credited = byType.join(totals, "pid")
        .select(col("touch_type"),
          expr("(c * 1000 * ct) div n").as("micro"), col("pid"))
      val organic = purchases
        .join(byType.select("pid").distinct(), Seq("pid"), "left_anti")
        .select(lit("(organic)").as("touch_type"),
          (col("c") * 1000).as("micro"), col("pid"))
      credited.unionByName(organic)
        .groupBy("touch_type")
        .agg(countDistinct(col("pid")).as("n_conversions"),
          sum(col("micro")).as("credit_micro"))
        .withColumn("credit", expr(
          "CAST(credit_micro AS DOUBLE) / CAST(100000 AS DOUBLE)"))
        .orderBy("touch_type")
    },
    Some(s"""WITH ev AS (SELECT event_id, user_id, ts,
                    CAST(ts AS DATE) AS day, event_type,
                    ${Det.sqlCents("value")} AS c
                  FROM events),
             p AS (SELECT event_id AS pid, user_id, day, ts AS pts, c
                   FROM ev WHERE event_type = 'purchase'),
             t AS (SELECT user_id, day, ts AS tts, event_id AS tid,
                          event_type AS touch_type
                   FROM ev WHERE event_type IN ('click', 'view')),
             pairs AS (SELECT p.pid, p.c, t.touch_type, t.tts, t.tid
                       FROM p JOIN t ON p.user_id = t.user_id
                         AND p.day = t.day
                         AND (t.tts < p.pts
                              OR (t.tts = p.pts AND t.tid < p.pid))),
             bt AS (SELECT pid, c, touch_type,
                           CAST(count(*) AS BIGINT) AS ct
                    FROM pairs GROUP BY pid, c, touch_type),
             tot AS (SELECT pid, CAST(sum(ct) AS BIGINT) AS n
                     FROM bt GROUP BY pid),
             credited AS (SELECT touch_type,
                            (c * 1000 * ct) // n AS micro, bt.pid
                          FROM bt JOIN tot ON bt.pid = tot.pid),
             organic AS (SELECT '(organic)' AS touch_type,
                           c * 1000 AS micro, pid
                         FROM p WHERE pid NOT IN (SELECT pid FROM pairs)),
             u AS (SELECT * FROM credited UNION ALL SELECT * FROM organic)
            SELECT touch_type,
                   CAST(count(DISTINCT pid) AS BIGINT) AS n_conversions,
                   CAST(sum(micro) AS BIGINT) AS credit_micro,
                   CAST(CAST(sum(micro) AS BIGINT) AS DOUBLE)
                     / CAST(100000 AS DOUBLE) AS credit
            FROM u GROUP BY touch_type ORDER BY touch_type"""))

  /** Pareto / ABC classification — the 80-20 curve inventory and revenue
    * analytics run over a CATALOG-bounded entity table (parts, SKUs,
    * accounts): rank parts by revenue, cumulative revenue share, class
    * A ≤ 80% / B ≤ 95% / C above, rolled up per class. The running sum
    * goes through Dec12 (window sums of DOUBLE are segment-tree-combined
    * in DuckDB — §7.2 — but decimal addition is associative, so the
    * running decimal total is exact in both engines); the share is one
    * IEEE division on identical operands and the class cut compares
    * identical doubles. The ranked table is the PART catalog, but SKU
    * catalogs scale with the corpus — so the running cumsum does NOT use
    * a partition-less window: it goes through Prefix's two-phase
    * decomposition (64 monotone range buckets on rev, per-bucket window
    * sums in parallel, broadcast bucket-total offsets; decimal addition
    * is associative so the regrouping is exact). The only partition-less
    * window touches the 64 bucket totals; the oracle keeps the naive
    * global window, so the hash match proves the decomposition exact.
    */
  val qWinParetoAbc = Q(
    "q_win_pareto_abc",
    (s, dir) => {
      val byPart = Tables.lineitem(s, dir)
        .groupBy("l_partkey")
        .agg(Det.dsum(col("l_extendedprice")).as("rev"))
        .localCheckpoint()
      val tot = byPart.agg(
        sum(col("rev").cast(Det.Dec12)).as("tot_d"))
      // value rides as DECIMAL(26,12): per-bucket sums promote to
      // (36,12), Prefix.runningSum narrows the cross-bucket offsets back
      // to (36,12) (exact: the grand total fits 24 integer digits), and
      // the final offset+local addition lands at (37,12) — never past
      // the 38-precision cap, so NO scale-reduction rounding anywhere
      // (a (38,12) carrier would need precision 39 at the final add and
      // allowPrecisionLoss would round the 12th digit, breaking the
      // bit-exact share against the oracle's single-window sum)
      val cum = Prefix.runningSum(
        Prefix.withRangeBucket(byPart, col("rev"), 64, "__b"),
        "__b", Seq(col("rev").desc, col("l_partkey")), bucketDesc = true,
        col("rev").cast(org.apache.spark.sql.types.DecimalType(26, 12)),
        "cum_d")
      cum.crossJoin(broadcast(tot))
        .withColumn("share",
          col("cum_d").cast(org.apache.spark.sql.types.DoubleType) /
            col("tot_d").cast(org.apache.spark.sql.types.DoubleType))
        .withColumn("abc",
          when(col("share") <= 0.8, "A")
            .when(col("share") <= 0.95, "B")
            .otherwise("C"))
        .groupBy("abc")
        .agg(count(lit(1)).as("n_parts"),
          Det.dsum(col("rev")).as("class_rev"))
        .orderBy("abc")
    },
    Some(s"""WITH bp AS (SELECT l_partkey,
                    ${Det.sqlSum("l_extendedprice")} AS rev
                  FROM lineitem GROUP BY l_partkey),
             t AS (SELECT SUM(CAST(rev AS DECIMAL(38,12))) AS tot_d FROM bp),
             c AS (SELECT l_partkey, rev,
                     SUM(CAST(rev AS DECIMAL(38,12))) OVER (
                       ORDER BY rev DESC, l_partkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_d
                   FROM bp),
             s AS (SELECT rev,
                     CASE WHEN CAST(cum_d AS DOUBLE)
                               / CAST((SELECT tot_d FROM t) AS DOUBLE)
                               <= CAST(0.8 AS DOUBLE) THEN 'A'
                          WHEN CAST(cum_d AS DOUBLE)
                               / CAST((SELECT tot_d FROM t) AS DOUBLE)
                               <= CAST(0.95 AS DOUBLE) THEN 'B'
                          ELSE 'C' END AS abc
                   FROM c)
            SELECT abc, count(*) AS n_parts,
                   ${Det.sqlSum("rev")} AS class_rev
            FROM s GROUP BY abc ORDER BY abc"""))

  /** Inventory backlog — the running open-position curve a supply-chain
    * monitor tracks (orders placed vs units shipped): per-day ordered
    * units (lineitem quantities keyed by order date) and shipped units
    * (keyed by ship date), full-outer-joined on the day, zero-filled,
    * with running integer sums giving the net backlog. Quantities are
    * integral in the data (cast to long — EXACT running sums, bit-exact
    * oracle); the day axis is calendar-bounded so the global ordered
    * cumsum is over O(days) rows, never O(corpus).
    */
  val qInventoryBacklog = Q(
    "q_inventory_backlog",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
      val opened = li.groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(sum(col("l_quantity").cast("long")).as("opened"))
      val shipped = Tables.lineitem(s, dir)
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(sum(col("l_quantity").cast("long")).as("shipped"))
      val wRun = Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      opened.join(shipped, Seq("d"), "full_outer")
        .select(col("d"),
          coalesce(col("opened"), lit(0L)).as("opened"),
          coalesce(col("shipped"), lit(0L)).as("shipped"))
        .withColumn("backlog",
          sum(col("opened") - col("shipped")).over(wRun))
        .select(
          col("d").cast(org.apache.spark.sql.types.TimestampType).as("d"),
          col("opened"), col("shipped"), col("backlog"))
        .orderBy("d")
    },
    Some("""WITH op AS (SELECT CAST(o_orderdate AS DATE) AS d,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS opened
                 FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                 GROUP BY 1),
             sh AS (SELECT CAST(l_shipdate AS DATE) AS d,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS shipped
                 FROM lineitem GROUP BY 1),
             j AS (SELECT COALESCE(op.d, sh.d) AS d,
                          COALESCE(opened, 0) AS opened,
                          COALESCE(shipped, 0) AS shipped
                   FROM op FULL OUTER JOIN sh ON op.d = sh.d)
            SELECT CAST(d AS TIMESTAMP) AS d, opened, shipped,
                   CAST(SUM(opened - shipped) OVER (ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS backlog
            FROM j ORDER BY d"""))

  /** Inter-arrival gap profile — the event-cadence statistic behind
    * session-timeout tuning, bot detection (machine-regular gaps) and
    * engagement scoring: per-user gap to the previous event via ONE lag
    * over the (ts, event_id) total order, rolled up per event type of the
    * LATER event. Gaps are exact integer microseconds (epoch-µs
    * subtraction — both engines floor the parquet ns timestamps to µs
    * identically, the Tables.events contract); the mean is the one IEEE
    * division over the exact Σgap/n (Det doctrine), min/max are integer
    * picks. Scale: one user_id shuffle serves the lag window; the rollup
    * is a bounded-key (|event types|) two-phase aggregate with map-side
    * combine. O(1) window state — nothing grows with history length.
    */
  val qInterarrival = Q(
    "q_interarrival",
    (s, dir) => {
      val wSeq = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), unix_micros(col("ts")).as("us"))
        .withColumn("gap_us", col("us") - lag(col("us"), 1).over(wSeq))
        .where(col("gap_us").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("gap_us")).as("sum_gap_us"),
          min(col("gap_us")).as("min_gap_us"),
          max(col("gap_us")).as("max_gap_us"))
        .select(col("event_type"), col("n_gaps"),
          expr("CAST(sum_gap_us AS DOUBLE) / CAST(n_gaps AS DOUBLE)")
            .as("mean_gap_us"),
          col("min_gap_us"), col("max_gap_us"))
        .orderBy("event_type")
    },
    Some("""WITH g AS (SELECT event_type,
                    epoch_us(ts) - lag(epoch_us(ts)) OVER (
                      PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
                  FROM events),
             a AS (SELECT event_type, count(*) AS n_gaps,
                     CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
                     CAST(min(gap_us) AS BIGINT) AS min_gap_us,
                     CAST(max(gap_us) AS BIGINT) AS max_gap_us
                   FROM g WHERE gap_us IS NOT NULL GROUP BY event_type)
            SELECT event_type, n_gaps,
                   CAST(sum_gap_us AS DOUBLE) / CAST(n_gaps AS DOUBLE)
                     AS mean_gap_us,
                   min_gap_us, max_gap_us
            FROM a ORDER BY event_type"""))

  /** Running VWAP (volume-weighted average price) per return-flag class —
    * the fair-price curve every trading/pricing pipeline keeps (a plain
    * running mean over-weights small fills): cumulative Σ(price·qty) /
    * Σqty over the day axis. Both running sums are EXACT (integer cents ×
    * integral qty per row, daily rollup then DECIMAL window sums —
    * decimal addition is associative, so the window combine is exact in
    * both engines); the VWAP is the one IEEE division per row over the
    * two correctly-rounded DOUBLE casts. Scale: the bounded daily rollup
    * (flags × days) precedes the window, so the running frame is O(days),
    * never O(rows); one exchange on the flag key serves both window sums.
    */
  val qWinVwap = Q(
    "q_win_vwap",
    (s, dir) => {
      val wRun = Window.partitionBy("flag").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
          to_date(col("l_shipdate")).as("d"),
          col("l_quantity").cast("long").as("q"),
          Det.cents("l_extendedprice").as("y"))
        .groupBy("flag", "d")
        .agg(sum(col("q").cast(Dec0)).as("qty_day"),
          sum((col("q") * col("y")).cast(Dec0)).as("notional_day"))
        .withColumn("cq", sum(col("qty_day")).over(wRun).cast("double"))
        .withColumn("cn", sum(col("notional_day")).over(wRun)
          .cast("double"))
        .select(col("flag"),
          col("d").cast(org.apache.spark.sql.types.TimestampType).as("d"),
          col("qty_day").cast("long").as("qty_day"),
          expr("cn / cq").as("vwap_cents"))
        .orderBy("flag", "d")
    },
    Some(s"""WITH daily AS (
              SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS d,
                CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_day,
                CAST(SUM(CAST(l_quantity AS BIGINT)
                  * ${Det.sqlCents("l_extendedprice")}) AS BIGINT)
                  AS notional_day
              FROM lineitem GROUP BY 1, 2),
             run AS (SELECT flag, d, qty_day,
                 CAST(SUM(qty_day) OVER w AS DOUBLE) AS cq,
                 CAST(SUM(notional_day) OVER w AS DOUBLE) AS cn
               FROM daily
               WINDOW w AS (PARTITION BY flag ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            SELECT flag, CAST(d AS TIMESTAMP) AS d, qty_day,
                   cn / cq AS vwap_cents
            FROM run ORDER BY flag, d"""))

  // Bollinger finals — shared formula text over the exact frame sums; the
  // variance numerator is computed in doubles from correctly-rounded casts
  // (identical operands both engines), clamped at 0 before sqrt so a
  // last-ulp negative from the subtraction can never produce NaN
  private val bollVar =
    "(CAST(n AS DOUBLE) * CAST(svv AS DOUBLE) " +
      "- CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)) " +
      "/ (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"
  private val bollSd =
    s"CASE WHEN ($bollVar) <= CAST(0.0 AS DOUBLE) THEN CAST(0.0 AS DOUBLE) " +
      s"ELSE sqrt($bollVar) END"
  private val bollMid = "CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)"

  /** Bollinger bands over a 7-row trailing frame — rolling mean ± 2σ, the
    * volatility envelope behind alerting thresholds and anomaly bands
    * (the σ-aware complement of q_win_rolling_median): frame Σv and Σv²
    * are EXACT — integer daily cents, Spark sums DECIMAL(38,0) squares,
    * DuckDB goes int128 for the square (its decimal multiply overflows at
    * the input width — the q_agg_hhi carrier split), identical exact
    * integers either way — and mean/σ are one shared formula text over
    * the correctly-rounded DOUBLE casts (sqrt correctly rounded, §7.2;
    * variance clamped at 0 so rounding can't produce NaN). Scale: frame
    * state is O(7) per row over the bounded daily rollup; one exchange on
    * the flag key serves count + both frame sums.
    */
  val qWinBollinger = Q(
    "q_win_bollinger",
    (s, dir) => {
      val wFrame = Window.partitionBy("flag").orderBy("d").rowsBetween(-6, 0)
      Det.dailyCents(s, dir, "v", dec0 = true)
        .withColumn("n", count(lit(1)).over(wFrame))
        .withColumn("sv", sum(col("v")).over(wFrame))
        .withColumn("svv", sum(col("v") * col("v")).over(wFrame))
        .select(col("flag"),
          col("d").cast(org.apache.spark.sql.types.TimestampType).as("d"),
          col("n"),
          expr(bollMid).as("mid"),
          expr(s"($bollMid) - CAST(2.0 AS DOUBLE) * ($bollSd)").as("lower"),
          expr(s"($bollMid) + CAST(2.0 AS DOUBLE) * ($bollSd)").as("upper"))
        .orderBy("flag", "d")
    },
    Some(s"""WITH daily AS (
              ${Det.sqlDailyCents("v", dec0 = true)}),
             f AS (SELECT flag, d,
                 count(*) OVER w AS n,
                 SUM(v) OVER w AS sv,
                 SUM(v * v) OVER w AS svv
               FROM daily
               WINDOW w AS (PARTITION BY flag ORDER BY d
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
            SELECT flag, CAST(d AS TIMESTAMP) AS d, n,
                   $bollMid AS mid,
                   ($bollMid) - CAST(2.0 AS DOUBLE) * ($bollSd) AS lower,
                   ($bollMid) + CAST(2.0 AS DOUBLE) * ($bollSd) AS upper
            FROM f ORDER BY flag, d"""))

  /** Pearson r over the DOUBLE pair sums n, sx, sy, sxy, sxx, syy:
    * (nΣxy − ΣxΣy) / (sqrt(nΣx² − Σx²)·sqrt(nΣy² − Σy²)), NULL when either
    * variance term is ≤ 0. One text for both engines of q_win_rolling_corr,
    * q_time_autocorr and q_time_crosscorr.
    */
  private val corrFml =
    "CASE WHEN n * sxx - sx * sx <= CAST(0 AS DOUBLE) " +
      "OR n * syy - sy * sy <= CAST(0 AS DOUBLE) THEN NULL " +
      "ELSE (n * sxy - sx * sy) / " +
      "(sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) END"

  /** Rolling 7-row Pearson correlation between the daily revenue and
    * daily volume series per return flag — the co-movement monitor
    * (price/volume regimes, metric-pair drift alerting) extending the
    * bollinger/rolling-median family from one series to two. All five
    * frame sums (Σx, Σy, Σxy, Σx², Σy²) are EXACT over integer daily
    * cents/counts — Spark rides DECIMAL(38,0), DuckDB int128 for the
    * products (the q_win_bollinger carrier split) — and r is ONE shared
    * formula text: (nΣxy − ΣxΣy) / (sqrt(nΣx² − Σx²)·sqrt(nΣy² − Σy²)),
    * NULL-guarded when either variance term is ≤ 0 (a constant series
    * has no correlation — emitted as NULL, not NaN, in both engines).
    * Scale: same shape as bollinger — one exchange on flag, O(7) frame
    * state over the bounded daily rollup.
    */
  val qWinRollingCorr = Q(
    "q_win_rolling_corr",
    (s, dir) => {
      val wFrame = Window.partitionBy("flag").orderBy("d").rowsBetween(-6, 0)
      Det.dailyCents(s, dir, "x", dec0 = true,
          more = Seq(count(lit(1)).cast(Dec0).as("y")))
        .withColumn("nn", count(lit(1)).over(wFrame))
        .withColumn("sxd", sum(col("x")).over(wFrame))
        .withColumn("syd", sum(col("y")).over(wFrame))
        .withColumn("sxyd", sum(col("x") * col("y")).over(wFrame))
        .withColumn("sxxd", sum(col("x") * col("x")).over(wFrame))
        .withColumn("syyd", sum(col("y") * col("y")).over(wFrame))
        .select(col("flag"),
          col("d").cast(org.apache.spark.sql.types.TimestampType).as("d"),
          col("nn").as("n_days"),
          expr("CAST(nn AS DOUBLE)").as("n"),
          expr("CAST(sxd AS DOUBLE)").as("sx"),
          expr("CAST(syd AS DOUBLE)").as("sy"),
          expr("CAST(sxyd AS DOUBLE)").as("sxy"),
          expr("CAST(sxxd AS DOUBLE)").as("sxx"),
          expr("CAST(syyd AS DOUBLE)").as("syy"))
        .select(col("flag"), col("d"), col("n_days"),
          expr(corrFml).as("r"))
        .orderBy("flag", "d")
    },
    Some(s"""WITH daily AS (
              ${Det.sqlDailyCents("x", dec0 = true,
                  more = Seq("CAST(count(*) AS HUGEINT) AS y"))}),
             f AS (SELECT flag, d,
                 count(*) OVER w AS n_days,
                 CAST(count(*) OVER w AS DOUBLE) AS n,
                 CAST(SUM(x) OVER w AS DOUBLE) AS sx,
                 CAST(SUM(y) OVER w AS DOUBLE) AS sy,
                 CAST(SUM(x * y) OVER w AS DOUBLE) AS sxy,
                 CAST(SUM(x * x) OVER w AS DOUBLE) AS sxx,
                 CAST(SUM(y * y) OVER w AS DOUBLE) AS syy
               FROM daily
               WINDOW w AS (PARTITION BY flag ORDER BY d
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
            SELECT flag, CAST(d AS TIMESTAMP) AS d, n_days,
                   $corrFml AS r
            FROM f ORDER BY flag, d"""))

  /** Autocorrelation function (ACF, lags 1–7) — the seasonality DETECTOR
    * (q_seasonal_dow assumes the week; ACF measures which lag actually
    * repeats, the input to that assumption): per flag, Pearson r between
    * the daily-revenue series and its lag-k shift over the overlapping
    * days, k = 1..7. Doctrine is rolling_corr's, applied per lag: exact
    * Dec0 cents (HUGEINT in DuckDB), the five pair sums as exact
    * integers, r as ONE shared formula. The 7 lag columns ride a single
    * flag-partitioned window pass over the calendar-bounded daily rollup
    * and stack into (flag, k) rows via posexplode — one scan, one
    * exchange, bounded output (|flags|·7).
    */
  val qTimeAutocorr = Q(
    "q_time_autocorr",
    (s, dir) => {
      val w = Window.partitionBy("flag").orderBy("d")
      var daily = Det.dailyCents(s, dir, "y", dec0 = true)
      for (k <- 1 to 7)
        daily = daily.withColumn(s"l$k", lag(col("y"), k).over(w))
      daily
        .select(col("flag"), col("y"),
          posexplode(array((1 to 7).map(k => col(s"l$k")): _*)))
        .select(col("flag"), (col("pos") + 1).as("k"),
          col("y"), col("col").as("x"))
        .where(col("x").isNotNull)
        .groupBy("flag", "k")
        .agg(count(lit(1)).as("nn"),
          sum(col("x")).as("sxd"), sum(col("y")).as("syd"),
          sum(col("x") * col("y")).as("sxyd"),
          sum(col("x") * col("x")).as("sxxd"),
          sum(col("y") * col("y")).as("syyd"))
        .select(col("flag"), col("k"), col("nn").as("n_pairs"),
          expr("CAST(nn AS DOUBLE)").as("n"),
          expr("CAST(sxd AS DOUBLE)").as("sx"),
          expr("CAST(syd AS DOUBLE)").as("sy"),
          expr("CAST(sxyd AS DOUBLE)").as("sxy"),
          expr("CAST(sxxd AS DOUBLE)").as("sxx"),
          expr("CAST(syyd AS DOUBLE)").as("syy"))
        .select(col("flag"), col("k"), col("n_pairs"),
          expr(corrFml).as("acf"))
        .orderBy("flag", "k")
    },
    Some {
      val lagCols = (1 to 7).map(k => s"lag(y, $k) OVER w AS l$k")
        .mkString(", ")
      val unions = (1 to 7).map(k =>
        s"SELECT flag, $k AS k, y, l$k AS x FROM l WHERE l$k IS NOT NULL")
        .mkString(" UNION ALL ")
      s"""WITH daily AS (
              ${Det.sqlDailyCents("y", dec0 = true)}),
             l AS (SELECT flag, y, $lagCols FROM daily
                   WINDOW w AS (PARTITION BY flag ORDER BY d)),
             st AS (SELECT flag, k, y, x FROM ($unions)),
             f AS (SELECT flag, k, count(*) AS n_pairs,
                     CAST(count(*) AS DOUBLE) AS n,
                     CAST(SUM(x) AS DOUBLE) AS sx,
                     CAST(SUM(y) AS DOUBLE) AS sy,
                     CAST(SUM(x * y) AS DOUBLE) AS sxy,
                     CAST(SUM(x * x) AS DOUBLE) AS sxx,
                     CAST(SUM(y * y) AS DOUBLE) AS syy
                   FROM st GROUP BY flag, k)
            SELECT flag, k, n_pairs, $corrFml AS acf
            FROM f ORDER BY flag, k"""
    })

  // MACD truncated-kernel text: EMA(n) tap j carries weight
  // α(1−α)^j with α = 2/(n+1), every factor written as an exact
  // fraction-of-literals product chain (no pow(), whose last-ulp
  // behavior differs across engines) — both engines fold the identical
  // double sequence. Normalized by the present-tap weight sum like
  // q_win_ewma.
  private def macdKernel(n: Int, taps: Int,
                         src: Int => String): (String, String) = {
    // CAST AS DOUBLE on every literal: both engines parse bare x.y
    // literals as DECIMAL, and decimal division silently truncates the
    // kernel weights at a few digits (found by a 1e-6-relative parity
    // miss on the fold)
    val a = s"(CAST(2.0 AS DOUBLE) / CAST(${n + 1}.0 AS DOUBLE))"
    val r = s"(CAST(${n - 1}.0 AS DOUBLE) / CAST(${n + 1}.0 AS DOUBLE))"
    def w(j: Int): String =
      if (j == 0) a else s"($a * ${Seq.fill(j)(r).mkString(" * ")})"
    val num = (0 until taps).map(j => s"${w(j)} * ${src(j)}")
      .mkString(" + ")
    val den = (0 until taps).map { j =>
      if (j == 0) w(j)
      else s"(CASE WHEN ${src(j)} IS NULL THEN 0.0 ELSE ${w(j)} END)"
    }.mkString(" + ")
    (num, den)
  }

  /** MACD — the momentum indicator completing the finance family (vwap =
    * volume-weighted level, bollinger = dispersion, drawdown = loss
    * depth, EWMA/Brown = smoothing; MACD = fast-vs-slow-trend DIVERGENCE,
    * the classic crossover signal): EMA12 − EMA26 of the daily close
    * (last price of day), with the EMA9 signal line over the MACD series
    * and the histogram as their gap. Doctrine: every EMA is the
    * truncated-tap kernel (q_win_ewma), weights as exact-literal product
    * chains — no pow(), whose rounding differs across engines — with
    * present-tap normalization; MACD needs 16 taps of the close, the
    * signal rides a SECOND lag pass over the computed MACD column (the
    * composed kernel stays a shared-text linear form end to end).
    * Scale: two flag-partitioned window passes over the calendar-bounded
    * daily rollup, O(16)+O(9) state.
    */
  val qWinMacd = Q(
    "q_win_macd",
    (s, dir) => {
      val w = Window.partitionBy("flag").orderBy("d")
      val close = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("flag"),
          to_date(col("l_shipdate")).as("d"))
        .agg(expr("max_by(l_extendedprice, struct(l_shipdate, " +
          "l_orderkey, l_linenumber, l_extendedprice))").as("v"))
      var df = close
      for (j <- 1 until 16)
        df = df.withColumn(s"l$j", lag(col("v"), j).over(w))
      def tapNull(j: Int) = if (j == 0) "v" else s"l$j"
      val (n12, _) = macdKernel(12, 16,
        j => s"COALESCE(${tapNull(j)}, 0.0)")
      val (_, d12d) = macdKernel(12, 16, tapNull)
      val (n26, _) = macdKernel(26, 16,
        j => s"COALESCE(${tapNull(j)}, 0.0)")
      val (_, d26d) = macdKernel(26, 16, tapNull)
      df = df
        .withColumn("ema12", expr(s"($n12) / ($d12d)"))
        .withColumn("ema26", expr(s"($n26) / ($d26d)"))
        .withColumn("macd", expr("ema12 - ema26"))
      for (j <- 1 until 9)
        df = df.withColumn(s"m$j", lag(col("macd"), j).over(w))
      val (n9, _) = macdKernel(9, 9,
        j => s"COALESCE(${if (j == 0) "macd" else s"m$j"}, 0.0)")
      val (_, d9d) = macdKernel(9, 9,
        j => if (j == 0) "macd" else s"m$j")
      df
        .withColumn("signal", expr(s"($n9) / ($d9d)"))
        .select(col("flag"),
          col("d").cast(org.apache.spark.sql.types.TimestampType).as("d"),
          col("macd"), col("signal"),
          expr("macd - signal").as("histogram"))
        .orderBy("flag", "d")
    },
    Some {
      val tapNull = (j: Int) => if (j == 0) "v" else s"l$j"
      val (n12, _) = macdKernel(12, 16,
        j => s"COALESCE(${tapNull(j)}, 0.0)")
      val (_, d12d) = macdKernel(12, 16, tapNull)
      val (n26, _) = macdKernel(26, 16,
        j => s"COALESCE(${tapNull(j)}, 0.0)")
      val (_, d26d) = macdKernel(26, 16, tapNull)
      val (n9, _) = macdKernel(9, 9,
        j => s"COALESCE(${if (j == 0) "macd" else s"m$j"}, 0.0)")
      val (_, d9d) = macdKernel(9, 9,
        j => if (j == 0) "macd" else s"m$j")
      val lagCols = (1 until 16).map(j =>
        s"lag(v, $j) OVER w AS l$j").mkString(", ")
      val mlagCols = (1 until 9).map(j =>
        s"lag(macd, $j) OVER w AS m$j").mkString(", ")
      s"""WITH close AS (
              SELECT flag, d, v FROM (
                SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS d,
                  l_extendedprice AS v,
                  row_number() OVER (
                    PARTITION BY l_returnflag, CAST(l_shipdate AS DATE)
                    ORDER BY l_shipdate DESC, l_orderkey DESC,
                      l_linenumber DESC, l_extendedprice DESC) AS rn
                FROM lineitem)
              WHERE rn = 1),
             lagged AS (SELECT flag, d, v, $lagCols FROM close
                   WINDOW w AS (PARTITION BY flag ORDER BY d)),
             m AS (SELECT flag, d,
                     (($n12) / ($d12d)) - (($n26) / ($d26d)) AS macd
                   FROM lagged),
             ml AS (SELECT flag, d, macd, $mlagCols FROM m
                   WINDOW w AS (PARTITION BY flag ORDER BY d)),
             sg AS (SELECT flag, d, macd, (($n9) / ($d9d)) AS signal
                   FROM ml)
            SELECT flag, CAST(d AS TIMESTAMP) AS d, macd, signal,
                   macd - signal AS histogram
            FROM sg ORDER BY flag, d"""
    })

  /** Peak concurrency via interval stabbing — the +1/−1 sweep that
    * answers "how many sessions were open AT ONCE" (capacity planning /
    * peak-load sizing; q_win_interval_merge coalesces overlaps, this
    * COUNTS them): each user-day activity interval [first ts, last ts)
    * emits +1 at its start and −1 at its end, deltas are net-merged per
    * instant (equivalent for the max under half-open semantics: the
    * −1-first tie order only ever lowers intermediate values), and the
    * running sum over the day's time axis is the live-session count;
    * peak = max, located at its earliest instant (struct-max argmax).
    * Scale: the per-day prefix rides Prefix.groupedRunningSum (64 time
    * buckets per day + bucket offsets — a day's stab events never sort
    * in one task); everything else is hash aggregates. Degenerate
    * single-instant intervals are excluded (half-open [s,s) is empty).
    */
  val qWinConcurrency = Q(
    "q_win_concurrency",
    (s, dir) => {
      val iv = Tables.events(s, dir)
        .groupBy(col("user_id"), to_date(col("ts")).as("d"))
        .agg(min(col("ts")).as("st"), max(col("ts")).as("en"))
        .where(col("en") > col("st"))
      val stabs = iv.select(col("d"), col("st").as("t"), lit(1L).as("delta"))
        .unionByName(
          iv.select(col("d"), col("en").as("t"), lit(-1L).as("delta")))
        .groupBy("d", "t").agg(sum(col("delta")).as("delta"))
        .withColumn("tm", unix_micros(col("t")))
      val run = Prefix.groupedRunningSum(
        Prefix.withGroupRangeBucket(stabs, Seq("d"), col("tm"), 64, "__b"),
        Seq("d"), "__b", Seq(col("tm")), bucketDesc = false,
        col("delta"), "run")
      val peaks = run.groupBy("d")
        .agg(max(struct(col("run"), (-col("tm")).as("nt"), col("t")))
          .as("m"))
        .select(col("d"), col("m.run").as("peak"), col("m.t").as("peak_at"))
      iv.groupBy("d").agg(count(lit(1)).as("n_intervals"))
        .join(peaks, "d")
        .select(col("d").cast(org.apache.spark.sql.types.TimestampType)
          .as("d"), col("n_intervals"), col("peak"), col("peak_at"))
        .orderBy("d")
    },
    Some("""WITH iv AS (SELECT user_id, CAST(ts AS DATE) AS d,
                    min(ts) AS st, max(ts) AS en
                  FROM events GROUP BY 1, 2 HAVING max(ts) > min(ts)),
             stabs AS (SELECT d, t, CAST(SUM(delta) AS BIGINT) AS delta
                   FROM (SELECT d, st AS t, 1 AS delta FROM iv
                         UNION ALL SELECT d, en, -1 FROM iv)
                   GROUP BY d, t),
             run AS (SELECT d, t,
                     CAST(SUM(delta) OVER (PARTITION BY d ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS run
                   FROM stabs),
             pk AS (SELECT d, run AS peak, t AS peak_at
                   FROM (SELECT d, run, t, row_number() OVER (
                           PARTITION BY d ORDER BY run DESC, t) AS rn
                         FROM run) WHERE rn = 1),
             n AS (SELECT d, count(*) AS n_intervals FROM iv GROUP BY d)
            SELECT CAST(n.d AS TIMESTAMP) AS d, n_intervals, peak, peak_at
            FROM n JOIN pk ON n.d = pk.d
            ORDER BY d"""))

  /** Brown's DOUBLE exponential smoothing + one-step forecast — the
    * trend-aware member of the smoothing family (q_win_ewma tracks level
    * only and lags any trend; Brown's S2 = EWMA(EWMA) cancels that lag:
    * level = 2S1−S2, trend = S1−S2 at α=1/2, forecast@+1 = 3S1−2S2).
    * Same doctrine as q_win_ewma: the infinite kernels are truncated to
    * an 8-tap lag chain with EXACT power-of-two weights (S1: 1/2^j; S2:
    * (j+1)/2^j — the analytic kernel of the composed smoother), each
    * normalized by the PRESENT-tap weight sum, so both engines fold the
    * identical finite formula text over identical doubles (max truncation
    * weight-loss < 4%, stated not hidden). Forecast is ONE shared
    * expression over the two smoothed columns. Scale: one exchange on
    * user_id, O(8) lag state per row.
    */
  val qWinEwmaDouble = Q(
    "q_win_ewma_double",
    (s, dir) => {
      val (n1, d1, n2, d2) = ewmaDoubleFormulas
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      var df = Tables.events(s, dir)
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"),
          col("value").as("v"))
      for (j <- 1 to 7)
        df = df.withColumn(s"l$j", lag(col("v"), j).over(w))
      df
        .withColumn("s1", expr(s"($n1) / ($d1)"))
        .withColumn("s2", expr(s"($n2) / ($d2)"))
        .select(col("user_id"), col("event_id"), col("s1"), col("s2"),
          expr("3.0 * s1 - 2.0 * s2").as("forecast"))
        .orderBy("user_id", "event_id")
    },
    Some {
      val (n1, d1, n2, d2) = ewmaDoubleFormulas
      s"""WITH p AS (SELECT user_id, event_id, ts, value AS v
                  FROM events WHERE event_type = 'purchase'),
             l AS (SELECT user_id, event_id, v,
                      ${(1 to 7).map(j =>
                        s"lag(v, $j) OVER w AS l$j").mkString(", ")}
                   FROM p
                   WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             sm AS (SELECT user_id, event_id,
                      (($n1) / ($d1)) AS s1, (($n2) / ($d2)) AS s2
                    FROM l)
          SELECT user_id, event_id, s1, s2,
                 3.0 * s1 - 2.0 * s2 AS forecast
          FROM sm ORDER BY user_id, event_id"""
    })

  /** Rolling 7-row OLS trend — slope + intercept of daily revenue against
    * the calendar-day axis per flag (the local trend detector next to the
    * family's other frames: bollinger = dispersion, rolling_corr =
    * co-movement, this = direction/rate): x = exact epoch-day integer,
    * y = exact daily revenue cents (Dec0 in Spark, HUGEINT in DuckDB —
    * the rolling_corr carrier split), five frame sums (n, Σx, Σy, Σxy,
    * Σx²) all integer-exact, then slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²)
    * and intercept = (Σy − slope·Σx)/n as ONE shared formula text over
    * identical doubles. Degenerate frames (n=1 ⇒ zero x-variance) yield
    * NULL. Same scale shape as rolling_corr: one exchange on flag,
    * constant-cardinality partitions over the calendar-bounded daily
    * rollup (O(days) rows per flag — dataset-bounded, NOT O(input)).
    */
  val qWinRollingOls = Q(
    "q_win_rolling_ols",
    (s, dir) => {
      val wFrame = Window.partitionBy("flag").orderBy("d").rowsBetween(-6, 0)
      val slopeFml =
        "CASE WHEN n * sxx - sx * sx <= CAST(0 AS DOUBLE) THEN NULL " +
          "ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END"
      val interceptFml =
        s"CASE WHEN ($slopeFml) IS NULL THEN NULL " +
          s"ELSE (sy - ($slopeFml) * sx) / n END"
      Det.dailyCents(s, dir, "y", dec0 = true)
        .withColumn("x",
          datediff(col("d"), lit("1970-01-01").cast("date")).cast(Dec0))
        .withColumn("nn", count(lit(1)).over(wFrame))
        .withColumn("sxd", sum(col("x")).over(wFrame))
        .withColumn("syd", sum(col("y")).over(wFrame))
        .withColumn("sxyd", sum(col("x") * col("y")).over(wFrame))
        .withColumn("sxxd", sum(col("x") * col("x")).over(wFrame))
        .select(col("flag"),
          col("d").cast(org.apache.spark.sql.types.TimestampType).as("d"),
          col("nn").as("n_days"),
          expr("CAST(nn AS DOUBLE)").as("n"),
          expr("CAST(sxd AS DOUBLE)").as("sx"),
          expr("CAST(syd AS DOUBLE)").as("sy"),
          expr("CAST(sxyd AS DOUBLE)").as("sxy"),
          expr("CAST(sxxd AS DOUBLE)").as("sxx"))
        .select(col("flag"), col("d"), col("n_days"),
          expr(slopeFml).as("slope"), expr(interceptFml).as("intercept"))
        .orderBy("flag", "d")
    },
    Some {
      val slopeFml =
        """CASE WHEN n * sxx - sx * sx <= CAST(0 AS DOUBLE) THEN NULL
           ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx) END"""
      val interceptFml =
        s"""CASE WHEN ($slopeFml) IS NULL THEN NULL
            ELSE (sy - ($slopeFml) * sx) / n END"""
      s"""WITH daily AS (
              SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS d,
                CAST(SUM(${Det.sqlCents("l_extendedprice")})
                  AS HUGEINT) AS y,
                CAST(datediff('day', DATE '1970-01-01',
                  CAST(l_shipdate AS DATE)) AS HUGEINT) AS x
              FROM lineitem GROUP BY 1, 2, 4),
             f AS (SELECT flag, d,
                 count(*) OVER w AS n_days,
                 CAST(count(*) OVER w AS DOUBLE) AS n,
                 CAST(SUM(x) OVER w AS DOUBLE) AS sx,
                 CAST(SUM(y) OVER w AS DOUBLE) AS sy,
                 CAST(SUM(x * y) OVER w AS DOUBLE) AS sxy,
                 CAST(SUM(x * x) OVER w AS DOUBLE) AS sxx
               FROM daily
               WINDOW w AS (PARTITION BY flag ORDER BY d
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
            SELECT flag, CAST(d AS TIMESTAMP) AS d, n_days,
                   $slopeFml AS slope, $interceptFml AS intercept
            FROM f ORDER BY flag, d"""
    })

  /** Rolling active users — the DAU/WAU engagement curve (stickiness =
    * DAU/WAU is the first product metric any events pipeline serves):
    * per-day exact distinct users, and trailing-7-day distinct via a
    * LINEAR fan-out: each user-day explodes into the ≤7 window days it
    * contributes to (a generator projection — no join at all), then one
    * distinct count per day. Exact distinct over a sliding window has no
    * single-pass window form in either engine, so the fan-out IS the
    * textbook exact formulation; at 100 TB the swap is partial HLL
    * sketches merged over the 7-day frame (q_agg_approx_distinct's path)
    * — same curve, bounded error. Phantom days past the data's edge drop
    * out in the DAU inner join. Integer day arithmetic only.
    */
  val qActiveUsersRolling = Q(
    "q_active_users_rolling",
    (s, dir) => {
      val ud = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("uday")).distinct()
      val dau = ud.groupBy(col("uday").as("d"))
        .agg(count(lit(1)).as("dau"))
      val wau = ud.select(col("user_id"), explode(expr(
          "sequence(uday, date_add(uday, 6), interval 1 day)")).as("d"))
        .groupBy("d")
        .agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, Seq("d"))
        .select(col("d").cast(org.apache.spark.sql.types.TimestampType)
          .as("d"), col("dau"), col("wau"))
        .orderBy("d")
    },
    Some("""WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS uday
                  FROM events),
             dau AS (SELECT uday AS d, count(*) AS dau
                     FROM ud GROUP BY 1),
             w AS (SELECT user_id,
                     CAST(unnest(generate_series(uday,
                       uday + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS d
                   FROM ud),
             wau AS (SELECT d, count(DISTINCT user_id) AS wau
                     FROM w GROUP BY d)
            SELECT CAST(dau.d AS TIMESTAMP) AS d, dau, wau
            FROM dau JOIN wau ON dau.d = wau.d ORDER BY d"""))

  /** Time-to-convert distribution — the latency readout behind funnel
    * optimization (how long from first exposure to first purchase):
    * per-user delta = first purchase at/after the first view, in exact
    * integer microseconds, then p25/median/p75 as ELEMENTS of the
    * (delta, user_id) total order (the q_anomaly_iqr rank-selection
    * doctrine — never interpolated, so the whole quantile row is
    * integer-exact) plus the mean as one IEEE division over exact Σ/n.
    * Scale: two bounded per-user min-aggregates (map-side combinable);
    * the converted-user table is O(users), so the exact rank does NOT
    * ride a global window — it goes through Prefix's two-phase
    * decomposition (64 monotone range buckets on delta, parallel
    * per-bucket row_number, broadcast bucket-count offsets) and n comes
    * from a broadcast 1-row count, never `count over (partition by 1)`.
    * Parity note: the oracle carries HAVING count(*) > 0 so an empty
    * converter set yields 0 rows in BOTH engines (a global aggregate
    * would emit one all-NULL row where groupBy("n") emits none).
    */
  val qTimeToConvert = Q(
    "q_time_to_convert",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val v = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("vt"))
      val p = ev.where(col("event_type") === "purchase")
        .join(v, "user_id").where(col("ts") >= col("vt"))
        .groupBy("user_id").agg(min(col("ts")).as("pt"),
          min(col("vt")).as("vt0"))
      val d = p.select(col("user_id"),
        (unix_micros(col("pt")) - unix_micros(col("vt0"))).as("delta_us"))
        .localCheckpoint()
      val nRow = d.agg(count(lit(1)).as("n"))
      val ranked = Prefix.globalRank(
        Prefix.withRangeBucket(d, col("delta_us"), 64, "__b"),
        "__b", Seq(col("delta_us"), col("user_id")), bucketDesc = false,
        "rn")
        .crossJoin(broadcast(nRow))
      ranked.groupBy("n")
        .agg(max(when(col("rn") === expr("(n + 3) div 4"),
            col("delta_us"))).as("p25_us"),
          max(when(col("rn") === expr("(n + 1) div 2"),
            col("delta_us"))).as("median_us"),
          max(when(col("rn") === expr("(3 * n + 3) div 4"),
            col("delta_us"))).as("p75_us"),
          sum(col("delta_us")).as("sum_us"))
        .select(col("n").as("n_converted"), col("p25_us"),
          col("median_us"), col("p75_us"),
          expr("CAST(sum_us AS DOUBLE) / CAST(n AS DOUBLE)")
            .as("mean_us"))
    },
    Some("""WITH v AS (SELECT user_id, min(ts) AS vt FROM events
                 WHERE event_type = 'view' GROUP BY user_id),
             p AS (SELECT e.user_id, min(e.ts) AS pt, min(v.vt) AS vt0
                   FROM events e
                   JOIN v ON e.user_id = v.user_id AND e.ts >= v.vt
                   WHERE e.event_type = 'purchase' GROUP BY e.user_id),
             d AS (SELECT user_id,
                     epoch_us(pt) - epoch_us(vt0) AS delta_us FROM p),
             r AS (SELECT *,
                     row_number() OVER (ORDER BY delta_us, user_id) AS rn,
                     count(*) OVER () AS n
                   FROM d)
            SELECT max(n) AS n_converted,
                   max(CASE WHEN rn = (n + 3) // 4 THEN delta_us END)
                     AS p25_us,
                   max(CASE WHEN rn = (n + 1) // 2 THEN delta_us END)
                     AS median_us,
                   max(CASE WHEN rn = (3 * n + 3) // 4 THEN delta_us END)
                     AS p75_us,
                   CAST(CAST(sum(delta_us) AS BIGINT) AS DOUBLE)
                     / CAST(max(n) AS DOUBLE) AS mean_us
            FROM r HAVING count(*) > 0"""))

  /** Rolling 30-day DISTINCT active customers per order day — the
    * trailing-window unique-count KPI (MAU/WAU family) that Spark's
    * window frames cannot express (no count(DISTINCT) over a frame) and
    * that naive rewrites solve with a 30× explode + re-distinct. The
    * scale-correct decomposition: (1) distinct customer-days; (2) each
    * day opens a 30-day coverage interval, merged per customer with the
    * q_win_interval_merge break-scan (a customer active every week
    * collapses to ONE interval, not 4× fan-out); (3) merged intervals
    * become +1/−1 boundary deltas, aggregated per day — the sweep axis is
    * calendar-bounded BY CONSTRUCTION after this groupBy; (4) one running
    * sum over the bounded day axis (allowlisted global window, the
    * q_inventory_backlog posture), evaluated at each order-day spine
    * point (spine days enter the axis as delta-0 rows so the running sum
    * is defined exactly there). All-integer; no distinct over any
    * exploded set; the oracle is the naive O(days × customer-days)
    * range-join count-distinct, so the hash match proves the
    * interval-sweep ≡ the textbook definition.
    */
  val qWinDistinctRolling = Q(
    "q_win_distinct_rolling",
    (s, dir) => {
      val win = 30
      val cd = Tables.orders(s, dir)
        .select(col("o_custkey").as("c"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("d"))
        .distinct()
      val wPrev = Window.partitionBy("c").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy("c").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val merged = cd
        .withColumn("e", col("d") + (win - 1))
        .withColumn("pmax", max(col("e")).over(wPrev))
        .withColumn("brk",
          when(col("pmax").isNull || col("d") > col("pmax"), 1).otherwise(0))
        .withColumn("sid", sum(col("brk")).over(wRun))
        .groupBy("c", "sid")
        .agg(min(col("d")).as("ist"), max(col("e")).as("ien"))
      val spine = cd.select(col("d")).distinct()
      val axis = merged.select(col("ist").as("d"), lit(1L).as("delta"))
        .unionAll(merged.select((col("ien") + 1).as("d"),
          lit(-1L).as("delta")))
        .unionAll(spine.select(col("d"), lit(0L).as("delta")))
        .groupBy("d").agg(sum(col("delta")).as("delta"))
      val wDay = Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      axis
        .withColumn("n_active", sum(col("delta")).over(wDay))
        .join(spine, Seq("d"))
        .select(col("d").as("d_day"), col("n_active"))
        .orderBy("d_day")
    },
    Some("""WITH cd AS (SELECT DISTINCT o_custkey AS c,
                   CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                     AS INTEGER) AS d
                 FROM orders),
             spine AS (SELECT DISTINCT d FROM cd)
            SELECT s.d AS d_day,
                   CAST(count(DISTINCT cd.c) AS BIGINT) AS n_active
            FROM spine s JOIN cd ON cd.d BETWEEN s.d - 29 AND s.d
            GROUP BY s.d ORDER BY d_day"""))

  /** Lagged CROSS-correlation between two event streams — the
    * lead/lag-discovery readout (does marketing `view` volume lead
    * `purchase` volume, and by how many days?) completing the
    * q_time_autocorr family with its bivariate member: Pearson r between
    * daily view counts and purchase counts shifted by k ∈ [−3, 3] days,
    * over days where both series have the shifted observation. Identical
    * determinism posture to autocorr: daily counts are exact BIGINTs, all
    * five sufficient statistics are exact integer sums, and the final r
    * is the shared-text cross-multiplied formula — doubles appear only in
    * the one final expression both engines evaluate on identical
    * operands. Scale: daily rollup is one groupBy (calendar-bounded
    * output); the 7 lags join against a 7-row broadcast literal, so the
    * lag fan-out is 7× a calendar-bounded table, then a 7-key aggregate.
    */
  val qTimeCrosscorr = Q(
    "q_time_crosscorr",
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("y"))
      val xd = daily.select(col("d").as("xd"), col("x"))
      val yd = daily.select(col("d").as("yd"), col("y"))
      val lags = s.range(-3, 4)
        .select(col("id").cast(IntegerType).as("k"))
      xd.crossJoin(broadcast(lags))
        .join(yd, col("yd") === date_add(col("xd"), col("k")))
        .groupBy("k")
        .agg(count(lit(1)).as("n_days"),
          sum(col("x")).as("sxl"), sum(col("y")).as("syl"),
          sum(col("x") * col("y")).as("sxyl"),
          sum(col("x") * col("x")).as("sxxl"),
          sum(col("y") * col("y")).as("syyl"))
        .select(col("k").as("lag"), col("n_days"),
          expr("CAST(n_days AS DOUBLE)").as("n"),
          expr("CAST(sxl AS DOUBLE)").as("sx"),
          expr("CAST(syl AS DOUBLE)").as("sy"),
          expr("CAST(sxyl AS DOUBLE)").as("sxy"),
          expr("CAST(sxxl AS DOUBLE)").as("sxx"),
          expr("CAST(syyl AS DOUBLE)").as("syy"))
        .select(col("lag"), col("n_days"), expr(corrFml).as("xcf"))
        .orderBy("lag")
    },
    Some(s"""WITH daily AS (SELECT CAST(ts AS DATE) AS d,
                   CAST(SUM(CASE WHEN event_type = 'view' THEN 1
                            ELSE 0 END) AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1
                            ELSE 0 END) AS BIGINT) AS y
                 FROM events GROUP BY 1),
             lg AS (SELECT unnest(range(-3, 4)) AS k),
             j AS (SELECT lg.k, xd.x, yd.y
                   FROM daily xd CROSS JOIN lg
                   JOIN daily yd ON yd.d = xd.d + to_days(lg.k::INTEGER)),
             f AS (SELECT k, count(*) AS n_days,
                     CAST(count(*) AS DOUBLE) AS n,
                     CAST(SUM(x) AS DOUBLE) AS sx,
                     CAST(SUM(y) AS DOUBLE) AS sy,
                     CAST(SUM(x * y) AS DOUBLE) AS sxy,
                     CAST(SUM(x * x) AS DOUBLE) AS sxx,
                     CAST(SUM(y * y) AS DOUBLE) AS syy
                   FROM j GROUP BY k)
            SELECT CAST(k AS INTEGER) AS lag, n_days, $corrFml AS xcf
            FROM f ORDER BY lag"""))

  /** Regex PATTERN MATCHING over per-user event sequences — the
    * MATCH_RECOGNIZE-shaped operator (SQL:2016 row pattern matching;
    * Spark has no native form): each user's events collapse to an
    * ordered one-char-per-event string (s/c/e/v/p — the event types'
    * distinct initials) and behavioral motifs become regexes over it:
    * `v+p` = a view-run converting directly to purchase, `ee+` = an
    * error burst (≥2 consecutive errors), `^v*` = the onboarding view
    * streak. Non-overlapping leftmost-greedy match counts — the
    * semantics java.util.regex and DuckDB's RE2 share exactly for these
    * backtrack-free character-class patterns (the q_text_lang_id
    * contract). Order is total: (ts, event_id) — struct array_sort on
    * the Spark side, ORDER BY inside string_agg on the oracle side.
    * Scale: one groupBy(user) shuffle; the per-user sequence is the
    * per-entity-bounded assumption every sequence operator carries — at
    * 100 TB sessionize first (q_session_stats) and match per session,
    * same plan shape with a compound key.
    */
  val qSeqPattern = Q(
    "q_seq_pattern",
    (s, dir) => {
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("cd"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          array_join(expr("transform(array_sort(" +
            "collect_list(struct(ts, event_id, cd))), x -> x.cd)"), "")
            .as("seq"))
        .select(col("user_id"), col("n_events"),
          expr("CAST(size(regexp_extract_all(seq, 'v+p', 0)) AS BIGINT)")
            .as("n_view_buy"),
          expr("CAST(size(regexp_extract_all(seq, 'ee+', 0)) AS BIGINT)")
            .as("n_err_bursts"),
          expr("CAST(length(regexp_extract(seq, '^v*', 0)) AS BIGINT)")
            .as("lead_views"))
        .orderBy("user_id")
    },
    Some("""WITH sq AS (SELECT user_id, count(*) AS n_events,
                   string_agg(substr(event_type, 1, 1), ''
                     ORDER BY ts, event_id) AS seq
                 FROM events GROUP BY user_id)
            SELECT user_id, n_events,
                   CAST(len(regexp_extract_all(seq, 'v+p')) AS BIGINT)
                     AS n_view_buy,
                   CAST(len(regexp_extract_all(seq, 'ee+')) AS BIGINT)
                     AS n_err_bursts,
                   CAST(len(regexp_extract(seq, '^v*')) AS BIGINT)
                     AS lead_views
            FROM sq ORDER BY user_id"""))

  /** 14-day RSI (Cutler's SMA form) per return flag — the classic
    * momentum oscillator, in the simple-moving-average formulation
    * (Wilder's original smoothing is an α=1/14 recursive EWMA — an
    * unbounded recurrence the cross-engine doctrine can't pin; Cutler's
    * SMA variant is the standard window-expressible equivalent and is
    * scale-invariant where Wilder's depends on the series start). Daily
    * revenue is exact BIGINT cents; delta/gain/loss stay integer; the
    * 14-delta frame sums Σgain and Σloss are exact; RSI = 100·Σg/(Σg+Σl)
    * is ONE shared-text IEEE division, NULL when the frame is flat
    * (Σg+Σl = 0 — the division would be 0/0). Only complete 14-delta
    * frames report. Scale: one exchange on flag, O(14) frame state over
    * the calendar-bounded daily rollup — identical shape to bollinger.
    */
  val qWinRsi = Q(
    "q_win_rsi",
    (s, dir) => {
      val wLag = Window.partitionBy("flag").orderBy("d")
      val wFrame = wLag.rowsBetween(-13, 0)
      val rsiFml = "CASE WHEN sg + sl = 0 THEN NULL " +
        "ELSE CAST(100.0 AS DOUBLE) * CAST(sg AS DOUBLE) " +
        "/ (CAST(sg AS DOUBLE) + CAST(sl AS DOUBLE)) END"
      Det.dailyCents(s, dir, "v")
        .withColumn("delta", col("v") - lag(col("v"), 1).over(wLag))
        .where(col("delta").isNotNull)
        .withColumn("n14", count(lit(1)).over(wFrame))
        .withColumn("sg",
          sum(greatest(col("delta"), lit(0L))).over(wFrame))
        .withColumn("sl",
          sum(greatest(-col("delta"), lit(0L))).over(wFrame))
        .where(col("n14") === 14)
        .select(col("flag"),
          col("d").cast(org.apache.spark.sql.types.TimestampType).as("d"),
          col("sg"), col("sl"), expr(rsiFml).as("rsi"))
        .orderBy("flag", "d")
    },
    Some(s"""WITH daily AS (
              ${Det.sqlDailyCents("v")}),
             dl AS (SELECT flag, d,
                      v - lag(v, 1) OVER (PARTITION BY flag ORDER BY d)
                        AS delta
                    FROM daily),
             fr AS (SELECT flag, d,
                      count(*) OVER w AS n14,
                      CAST(sum(greatest(delta, 0)) OVER w AS BIGINT) AS sg,
                      CAST(sum(greatest(-delta, 0)) OVER w AS BIGINT) AS sl
                    FROM dl WHERE delta IS NOT NULL
                    WINDOW w AS (PARTITION BY flag ORDER BY d
                      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
            SELECT flag, CAST(d AS TIMESTAMP) AS d, sg, sl,
                   CASE WHEN sg + sl = 0 THEN NULL
                        ELSE CAST(100.0 AS DOUBLE) * CAST(sg AS DOUBLE)
                          / (CAST(sg AS DOUBLE) + CAST(sl AS DOUBLE)) END
                     AS rsi
            FROM fr WHERE n14 = 14 ORDER BY flag, d"""))

  /** 14-day STOCHASTIC OSCILLATOR (%K / %D) per return flag — the
    * range-position momentum pair: %K = 100·(v − min₁₄)/(max₁₄ − min₁₄)
    * over the trailing 14-day frame, %D = the 3-day SMA of %K. min/max/v
    * are exact integer cents so %K is one shared-text IEEE formula,
    * NULL-guarded when the frame range is zero; %D deliberately AVOIDS a
    * windowed double sum (DuckDB's segment-tree accumulation order
    * differs — SURVEY §7.6 doctrine) and instead uses the bounded
    * LAG-CHAIN (k + lag(k,1) + lag(k,2))/3 — a fixed textual add order
    * both engines evaluate identically; any NULL in the chain (edge or
    * flat frame) nulls %D, the honest answer. Lags are taken over the
    * complete-frame rows only, so the chain never crosses a partial
    * frame. Scale: two flag-partitioned window passes over the bounded
    * daily rollup — no extra exchange (same partitioning).
    */
  val qWinStochastic = Q(
    "q_win_stochastic",
    (s, dir) => {
      val wLag = Window.partitionBy("flag").orderBy("d")
      val wFrame = wLag.rowsBetween(-13, 0)
      val kFml = "CASE WHEN hi - lo = 0 THEN NULL " +
        "ELSE CAST(100.0 AS DOUBLE) * (CAST(v AS DOUBLE) " +
        "- CAST(lo AS DOUBLE)) / (CAST(hi AS DOUBLE) " +
        "- CAST(lo AS DOUBLE)) END"
      Det.dailyCents(s, dir, "v")
        .withColumn("n14", count(lit(1)).over(wFrame))
        .withColumn("lo", min(col("v")).over(wFrame))
        .withColumn("hi", max(col("v")).over(wFrame))
        .where(col("n14") === 14)
        .withColumn("k", expr(kFml))
        .withColumn("pct_d", expr(
          "(k + lag(k, 1) OVER (PARTITION BY flag ORDER BY d) " +
            "+ lag(k, 2) OVER (PARTITION BY flag ORDER BY d)) " +
            "/ CAST(3.0 AS DOUBLE)"))
        .select(col("flag"),
          col("d").cast(org.apache.spark.sql.types.TimestampType).as("d"),
          col("lo"), col("hi"), col("k").as("pct_k"), col("pct_d"))
        .orderBy("flag", "d")
    },
    Some(s"""WITH daily AS (
              ${Det.sqlDailyCents("v")}),
             fr AS (SELECT flag, d, v,
                      count(*) OVER w AS n14,
                      CAST(min(v) OVER w AS BIGINT) AS lo,
                      CAST(max(v) OVER w AS BIGINT) AS hi
                    FROM daily
                    WINDOW w AS (PARTITION BY flag ORDER BY d
                      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
             kk AS (SELECT flag, d, lo, hi,
                      CASE WHEN hi - lo = 0 THEN NULL
                           ELSE CAST(100.0 AS DOUBLE) * (CAST(v AS DOUBLE)
                             - CAST(lo AS DOUBLE)) / (CAST(hi AS DOUBLE)
                             - CAST(lo AS DOUBLE)) END AS k
                    FROM fr WHERE n14 = 14)
            SELECT flag, CAST(d AS TIMESTAMP) AS d, lo, hi, k AS pct_k,
                   (k + lag(k, 1) OVER (PARTITION BY flag ORDER BY d)
                      + lag(k, 2) OVER (PARTITION BY flag ORDER BY d))
                     / CAST(3.0 AS DOUBLE) AS pct_d
            FROM kk ORDER BY flag, d"""))

  /** 14-day ATR (Average True Range, SMA form) per order priority — the
    * volatility band behind position sizing and breakout filters. The
    * daily OHLC bar comes from orders (high/low = max/min total-price
    * cents, close = the day's LAST order under the o_orderkey total
    * order via max_by — deterministic, keys are unique); true range =
    * greatest(hi−lo, |hi−prevClose|, |lo−prevClose|) is PURE INTEGER
    * arithmetic, the 14-frame ΣTR is an exact BIGINT window sum, and ATR
    * = ΣTR/14 is the single shared-text IEEE division. First bar (no
    * prev close) and partial frames are excluded. Scale: one exchange on
    * priority, O(14) frame state over the calendar-bounded daily bars.
    */
  val qWinAtr = Q(
    "q_win_atr",
    (s, dir) => {
      val wLag = Window.partitionBy("pr").orderBy("d")
      val wFrame = wLag.rowsBetween(-13, 0)
      Tables.orders(s, dir)
        .select(col("o_orderpriority").as("pr"),
          to_date(col("o_orderdate")).as("d"), col("o_orderkey"),
          Det.cents("o_totalprice").as("cents"))
        .groupBy("pr", "d")
        .agg(max(col("cents")).as("hi"), min(col("cents")).as("lo"),
          max_by(col("cents"), col("o_orderkey")).as("cl"))
        .withColumn("pc", lag(col("cl"), 1).over(wLag))
        .where(col("pc").isNotNull)
        .withColumn("tr", greatest(col("hi") - col("lo"),
          abs(col("hi") - col("pc")), abs(col("lo") - col("pc"))))
        .withColumn("n14", count(lit(1)).over(wFrame))
        .withColumn("str", sum(col("tr")).over(wFrame))
        .where(col("n14") === 14)
        .select(col("pr"),
          col("d").cast(org.apache.spark.sql.types.TimestampType).as("d"),
          col("tr"),
          expr("CAST(str AS DOUBLE) / CAST(14.0 AS DOUBLE)").as("atr"))
        .orderBy("pr", "d")
    },
    Some(s"""WITH bars AS (
              SELECT o_orderpriority AS pr, CAST(o_orderdate AS DATE) AS d,
                CAST(max(cents) AS BIGINT) AS hi,
                CAST(min(cents) AS BIGINT) AS lo,
                CAST(max_by(cents, o_orderkey) AS BIGINT) AS cl
              FROM (SELECT o_orderpriority, o_orderdate, o_orderkey,
                      ${Det.sqlCents("o_totalprice")} AS cents
                    FROM orders)
              GROUP BY 1, 2),
             tr AS (SELECT pr, d,
                      greatest(hi - lo, abs(hi - pc), abs(lo - pc)) AS tr
                    FROM (SELECT pr, d, hi, lo,
                            lag(cl, 1) OVER (PARTITION BY pr ORDER BY d)
                              AS pc
                          FROM bars)
                    WHERE pc IS NOT NULL),
             fr AS (SELECT pr, d, tr,
                      count(*) OVER w AS n14,
                      CAST(sum(tr) OVER w AS BIGINT) AS str
                    FROM tr
                    WINDOW w AS (PARTITION BY pr ORDER BY d
                      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
            SELECT pr, CAST(d AS TIMESTAMP) AS d, tr,
                   CAST(str AS DOUBLE) / CAST(14.0 AS DOUBLE) AS atr
            FROM fr WHERE n14 = 14 ORDER BY pr, d"""))

  /** ON-BALANCE VOLUME per return flag — the volume-flow accumulator
    * completing the indicator family (RSI/stochastic/ATR/MACD read
    * PRICE; OBV reads whether volume arrives on up-days or down-days):
    * daily close = exact revenue cents, daily volume = line count,
    * signed flow = sign(Δclose)·volume (flat or first day → 0), OBV =
    * the running sum of signed flow. The running sum is ALL-INTEGER, so
    * the windowed accumulation is order-safe in both engines (the §7.6
    * segment-tree hazard is double-only) and sits in the allowlisted
    * flag-partitioned class. Scale: one map-combining rollup to the
    * bounded calendar axis + two passes over the SAME flag
    * partitioning (lag, then running sum) — zero extra exchanges.
    */
  val qWinObv = Q(
    "q_win_obv",
    (s, dir) => {
      val wLag = Window.partitionBy("flag").orderBy("d")
      val wRun = wLag.rowsBetween(Window.unboundedPreceding, 0)
      Det.dailyCents(s, dir, "v", more = Seq(count(lit(1)).as("vol")))
        .withColumn("delta", col("v") - lag(col("v"), 1).over(wLag))
        .withColumn("flow", expr("CASE WHEN delta IS NULL OR delta = 0" +
          " THEN 0 WHEN delta > 0 THEN vol ELSE -vol END"))
        .withColumn("obv", sum(col("flow")).over(wRun))
        .select(col("flag"),
          col("d").cast(org.apache.spark.sql.types.TimestampType).as("d"),
          col("v"), col("vol"), col("flow"), col("obv"))
        .orderBy("flag", "d")
    },
    Some(s"""WITH daily AS (
              ${Det.sqlDailyCents("v",
                  more = Seq("CAST(count(*) AS BIGINT) AS vol"))}),
             dl AS (SELECT flag, d, v, vol,
                      v - lag(v, 1) OVER (PARTITION BY flag ORDER BY d)
                        AS delta
                    FROM daily),
             fl AS (SELECT flag, d, v, vol,
                      CASE WHEN delta IS NULL OR delta = 0 THEN 0
                        WHEN delta > 0 THEN vol ELSE -vol END AS flow
                    FROM dl)
            SELECT flag, CAST(d AS TIMESTAMP) AS d, v, vol, flow,
                   CAST(sum(flow) OVER (PARTITION BY flag ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS obv
            FROM fl ORDER BY flag, d"""))

  /** ULCER INDEX per return flag — drawdown SEVERITY, the root-mean-
    * square of percentage drawdowns over a trailing 14-day frame
    * (q_win_drawdown reports the max; ulcer integrates depth×duration,
    * the risk number drawdown-averse allocators actually use). Peak =
    * integer running max (order-safe); per-day drawdown dd =
    * (peak−v)/peak is ONE shared IEEE division; dd² is Dec12-quantized
    * BEFORE the frame sum so the windowed accumulation is exact
    * decimal addition (associative — the §7.6 segment-tree hazard
    * applies to DOUBLE frames, not decimals), and ulcer =
    * sqrt(Σdd²/14) is the one shared final. Complete frames only.
    * Scale: same single flag-partitioned exchange serves running max,
    * frame sum and count.
    */
  val qWinUlcer = Q(
    "q_win_ulcer",
    (s, dir) => {
      val wLag = Window.partitionBy("flag").orderBy("d")
      val wRun = wLag.rowsBetween(Window.unboundedPreceding, 0)
      val wFrame = wLag.rowsBetween(-13, 0)
      Det.dailyCents(s, dir, "v")
        .withColumn("peak", max(col("v")).over(wRun))
        .withColumn("dd2", expr("CAST(" +
          "((CAST(peak AS DOUBLE) - CAST(v AS DOUBLE))" +
          " / CAST(peak AS DOUBLE))" +
          " * ((CAST(peak AS DOUBLE) - CAST(v AS DOUBLE))" +
          " / CAST(peak AS DOUBLE)) AS DECIMAL(38,12))"))
        .withColumn("n14", count(lit(1)).over(wFrame))
        .withColumn("sdd2", sum(col("dd2")).over(wFrame))
        .where(col("n14") === 14)
        .select(col("flag"),
          col("d").cast(org.apache.spark.sql.types.TimestampType).as("d"),
          col("v"), col("peak"),
          expr("sqrt(CAST(sdd2 AS DOUBLE) / 14.0)").as("ulcer"))
        .orderBy("flag", "d")
    },
    Some(s"""WITH daily AS (
              ${Det.sqlDailyCents("v")}),
             pk AS (SELECT flag, d, v,
                      CAST(max(v) OVER (PARTITION BY flag ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS peak
                    FROM daily),
             dd AS (SELECT flag, d, v, peak,
                      CAST(((CAST(peak AS DOUBLE) - CAST(v AS DOUBLE))
                            / CAST(peak AS DOUBLE))
                         * ((CAST(peak AS DOUBLE) - CAST(v AS DOUBLE))
                            / CAST(peak AS DOUBLE)) AS DECIMAL(38,12))
                        AS dd2
                    FROM pk),
             fr AS (SELECT flag, d, v, peak,
                      count(*) OVER w AS n14,
                      sum(dd2) OVER w AS sdd2
                    FROM dd
                    WINDOW w AS (PARTITION BY flag ORDER BY d
                      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
            SELECT flag, CAST(d AS TIMESTAMP) AS d, v, peak,
                   sqrt(CAST(sdd2 AS DOUBLE) / 14.0) AS ulcer
            FROM fr WHERE n14 = 14 ORDER BY flag, d"""))

  /** Budget WATERFALL allocation — ordered consumption of a fixed pot
    * (grant rounds, ad budgets, debt seniority): each priority class
    * funds its orders biggest-first from a budget of half its own
    * revenue; an order gets min(its ask, what's left). The exclusive
    * prefix that decides "what's left" rides Prefix.groupedRunningSum
    * (bucket-band decomposition — per-class order flow NEVER sorts
    * through one task; the oracle's plain partitioned window is
    * result-identical because the cents-monotone bucket order embeds
    * in the (cents desc, key) total order). All-integer cents; the
    * funded/partial/starved census is exact. Scale: one grouped
    * aggregate for budgets + the decomposed prefix — no global sort,
    * no corpus-wide window partition.
    */
  val qAllocWaterfall = Q(
    "q_alloc_waterfall",
    (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderpriority").as("pri"),
          col("o_orderkey").as("ok"),
          Det.roundCents("o_totalprice").as("cents"))
      val budgets = o.groupBy("pri")
        .agg(expr("sum(cents) DIV 2").as("budget"))
      val bucketed = graft.operators.Prefix.withGroupRangeBucket(
        o, Seq("pri"), col("cents"), 64, "bk")
      val cum = graft.operators.Prefix.groupedRunningSum(
        bucketed, Seq("pri"), "bk",
        Seq(col("cents").desc, col("ok").asc), bucketDesc = true,
        col("cents"), "cum")
      cum.join(broadcast(budgets), "pri")
        .withColumn("alloc", expr(
          "greatest(CAST(0 AS BIGINT)," +
            " least(cents, budget - (cum - cents)))"))
        .groupBy("pri")
        .agg(first(col("budget")).as("budget_cents"),
          count(lit(1)).as("n_orders"),
          sum(when(col("alloc") === col("cents"), 1L).otherwise(0L))
            .as("n_full"),
          sum(when(col("alloc") > 0 && col("alloc") < col("cents"), 1L)
            .otherwise(0L)).as("n_partial"),
          sum(when(col("alloc") <= 0, 1L).otherwise(0L)).as("n_starved"),
          sum(greatest(col("alloc"), lit(0L))).as("alloc_cents"))
        .orderBy("pri")
    },
    Some(s"""WITH o AS (SELECT o_orderpriority AS pri,
                    o_orderkey AS ok,
                    ${Det.sqlRoundCents("o_totalprice")} AS cents
                  FROM orders),
             b AS (SELECT pri, CAST(sum(cents) // 2 AS BIGINT) AS budget
                   FROM o GROUP BY pri),
             c AS (SELECT pri, ok, cents,
                     CAST(sum(cents) OVER (PARTITION BY pri
                       ORDER BY cents DESC, ok
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                   FROM o),
             a AS (SELECT c.pri, cents, budget,
                     greatest(CAST(0 AS BIGINT),
                       least(cents, budget - (cum - cents))) AS alloc
                   FROM c JOIN b ON c.pri = b.pri)
            SELECT pri, CAST(first(budget) AS BIGINT) AS budget_cents,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CASE WHEN alloc = cents THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_full,
                   CAST(sum(CASE WHEN alloc > 0 AND alloc < cents
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_partial,
                   CAST(sum(CASE WHEN alloc <= 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_starved,
                   CAST(sum(greatest(alloc, CAST(0 AS BIGINT)))
                     AS BIGINT) AS alloc_cents
            FROM a GROUP BY pri ORDER BY pri"""))

  /** FIFO lot matching (inventory COGS / order fulfillment): per part,
    * supply lots (even-suppkey lines) are consumed in ship-date order
    * against the part's total demand (odd-suppkey lines) — each lot
    * yields clamp(demand − cum_before, 0, qty), the two-prefix-sums
    * form of first-in-first-out. Per-part windows are catalog-bounded
    * (≤ ~30 lots/part at any SF — lots per SKU are a catalog property,
    * not a corpus one). The Σ consumed ≡ min(supply, demand) identity
    * is pinned in R15Spec — the conservation law that catches a wrong
    * clamp instantly. Census per brand keeps the output bounded.
    */
  val qInventoryFifo = Q(
    "q_inventory_fifo",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val lots = li.where(pmod(col("l_suppkey"), lit(2)) === 0)
        .select(col("l_partkey").as("pk"), col("l_shipdate").as("sd"),
          col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          col("l_quantity").cast("long").as("qty"))
      val demand = li.where(pmod(col("l_suppkey"), lit(2)) === 1)
        .groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("l_quantity").cast("long")).as("dem"))
      val w = Window.partitionBy("pk")
        .orderBy(col("sd"), col("ok"), col("ln"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val matched = lots
        .withColumn("cum_before", coalesce(sum(col("qty")).over(w),
          lit(0L)))
        .join(demand, Seq("pk"), "left")
        .withColumn("d", coalesce(col("dem"), lit(0L)))
        .withColumn("consumed", expr(
          "greatest(CAST(0 AS BIGINT)," +
            " least(qty, d - cum_before))"))
      matched
        .join(Tables.part(s, dir).select(col("p_partkey").as("pk"),
          col("p_brand").as("brand")), "pk")
        .groupBy("brand")
        .agg(countDistinct(col("pk")).as("n_parts"),
          count(lit(1)).as("n_lots"),
          sum(col("qty")).as("supply_qty"),
          sum(col("consumed")).as("consumed_qty"))
        .orderBy("brand")
    },
    Some("""WITH lots AS (SELECT l_partkey AS pk, l_shipdate AS sd,
                    l_orderkey AS ok, l_linenumber AS ln,
                    CAST(l_quantity AS BIGINT) AS qty
                  FROM lineitem WHERE l_suppkey % 2 = 0),
             dm AS (SELECT l_partkey AS pk,
                      CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                        AS dem
                    FROM lineitem WHERE l_suppkey % 2 = 1
                    GROUP BY 1),
             m AS (SELECT lots.pk, qty,
                     coalesce(CAST(sum(qty) OVER (PARTITION BY lots.pk
                       ORDER BY sd, ok, ln ROWS BETWEEN UNBOUNDED
                       PRECEDING AND 1 PRECEDING) AS BIGINT),
                       CAST(0 AS BIGINT)) AS cum_before,
                     coalesce(dem, CAST(0 AS BIGINT)) AS d
                   FROM lots LEFT JOIN dm ON lots.pk = dm.pk),
             c AS (SELECT pk, qty,
                     greatest(CAST(0 AS BIGINT),
                       least(qty, d - cum_before)) AS consumed
                   FROM m)
            SELECT p_brand AS brand,
                   CAST(count(DISTINCT c.pk) AS BIGINT) AS n_parts,
                   CAST(count(*) AS BIGINT) AS n_lots,
                   CAST(sum(qty) AS BIGINT) AS supply_qty,
                   CAST(sum(consumed) AS BIGINT) AS consumed_qty
            FROM c JOIN part ON c.pk = p_partkey
            GROUP BY 1 ORDER BY brand"""))

  /** Time-weighted average (TWAP) per event type — the irregular-
    * sampling mean (a plain mean over-weights bursts: a value held for
    * an hour must count 3600× a value held a second — the
    * metering/billing/fair-price rule): each observation is weighted by
    * its HOLDING TIME (microseconds to the next event of the same
    * type), the last observation has no successor and drops (stated).
    * Every weight is an exact integer microsecond span and every value
    * an exact cent, so Σ(value·dur) rides the DECIMAL(38,0) carrier and
    * TWAP is one shared division. The plain mean rides along to show
    * the burst bias. Scale: one lead() per type partition + a per-type
    * aggregate — no global window. */
  val qWinTwap = Q(
    "q_win_twap",
    (s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
      Tables.events(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"),
          unix_micros(col("ts")).as("us"),
          Det.cents("value").as("cents"))
        .withColumn("dur", lead(col("us"), 1).over(w) - col("us"))
        .where(col("dur").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(CAST(cents AS DECIMAL(38,0))" +
            " * CAST(dur AS DECIMAL(38,0)) AS DECIMAL(38,0))")).as("wv"),
          sum(col("dur")).as("wd"),
          sum(col("cents")).as("sc"))
        .select(col("event_type"), col("n"),
          expr("CASE WHEN wd = 0 THEN NULL ELSE" +
            " round(CAST(wv AS DOUBLE) / CAST(wd AS DOUBLE), 6) END")
            .as("twap_cents"),
          expr("round(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE), 6)")
            .as("plain_mean_cents"))
        .orderBy("event_type")
    },
    Some(s"""WITH e AS (SELECT event_type,
                    epoch_us(ts) AS us,
                    ${Det.sqlCents("value")} AS cents,
                    lead(epoch_us(ts)) OVER (PARTITION BY event_type
                      ORDER BY ts, event_id) - epoch_us(ts) AS dur
                  FROM events),
             a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     sum(CAST(CAST(cents AS DECIMAL(38,0))
                       * CAST(dur AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS wv,
                     CAST(sum(dur) AS BIGINT) AS wd,
                     CAST(sum(cents) AS BIGINT) AS sc
                   FROM e WHERE dur IS NOT NULL GROUP BY event_type)
            SELECT event_type, n,
                   CASE WHEN wd = 0 THEN NULL ELSE
                     round(CAST(wv AS DOUBLE) / CAST(wd AS DOUBLE), 6)
                     END AS twap_cents,
                   round(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE), 6)
                     AS plain_mean_cents
            FROM a ORDER BY event_type"""))

  /** Annualized Sharpe ratio per return-flag class — the
    * risk-adjusted-return one-number (a mean return alone rewards
    * volatility; Sharpe divides it out — the portfolio/strategy
    * comparison metric): daily simple returns r_t = (y_t−y_{t−1})/
    * y_{t−1} on the daily revenue rollup (zero-baseline days drop,
    * stated), mean/sd via Dec12 order-free sums over the per-row
    * returns (each return is ONE shared IEEE division over identical
    * integer operands), Sharpe = mean/sd·√252 with the trading-year
    * convention stated, sd the sample form. Finals on the 1e-6 grid.
    * Scale: one flag-partitioned lag + a 3-row aggregate. */
  val qWinSharpe = Q(
    "q_win_sharpe",
    (s, dir) => {
      val w = Window.partitionBy("flag").orderBy("d")
      val daily = Det.dailyCents(s, dir, "y")
      val ret = daily
        .withColumn("yp", lag(col("y"), 1).over(w))
        .where(col("yp").isNotNull && col("yp") =!= 0L)
        .withColumn("r", expr(
          "CAST(y - yp AS DOUBLE) / CAST(yp AS DOUBLE)"))
      ret.groupBy("flag")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(r AS DECIMAL(38,12))")).cast(DoubleType)
            .as("sr"),
          sum(expr("CAST(r * r AS DECIMAL(38,12))")).cast(DoubleType)
            .as("sr2"))
        .select(col("flag"), col("n"),
          expr("round(sr / CAST(n AS DOUBLE), 6)").as("mean_ret"),
          expr("CASE WHEN n <= 1 THEN NULL ELSE" +
            " round(sqrt((sr2 - sr * sr / CAST(n AS DOUBLE))" +
            " / CAST(n - 1 AS DOUBLE)), 6) END").as("sd_ret"),
          expr("CASE WHEN n <= 1 OR sr2 - sr * sr / CAST(n AS DOUBLE)" +
            " <= CAST(0 AS DOUBLE) THEN NULL ELSE" +
            " round(sr / CAST(n AS DOUBLE)" +
            " / sqrt((sr2 - sr * sr / CAST(n AS DOUBLE))" +
            " / CAST(n - 1 AS DOUBLE))" +
            " * sqrt(CAST(252 AS DOUBLE)), 6) END").as("sharpe_ann"))
        .orderBy("flag")
    },
    Some(s"""WITH daily AS (${Det.sqlDailyCents("y")}),
             ret AS (SELECT flag,
                       CAST(y - yp AS DOUBLE) / CAST(yp AS DOUBLE) AS r
                     FROM (SELECT flag, y,
                             lag(y, 1) OVER (PARTITION BY flag
                               ORDER BY d) AS yp
                           FROM daily)
                     WHERE yp IS NOT NULL AND yp <> 0),
             a AS (SELECT flag, CAST(count(*) AS BIGINT) AS n,
                     CAST(SUM(CAST(r AS DECIMAL(38,12))) AS DOUBLE) AS sr,
                     CAST(SUM(CAST(r * r AS DECIMAL(38,12))) AS DOUBLE)
                       AS sr2
                   FROM ret GROUP BY flag)
            SELECT flag, n,
                   round(sr / CAST(n AS DOUBLE), 6) AS mean_ret,
                   CASE WHEN n <= 1 THEN NULL ELSE
                     round(sqrt((sr2 - sr * sr / CAST(n AS DOUBLE))
                       / CAST(n - 1 AS DOUBLE)), 6) END AS sd_ret,
                   CASE WHEN n <= 1 OR sr2 - sr * sr / CAST(n AS DOUBLE)
                       <= CAST(0 AS DOUBLE) THEN NULL ELSE
                     round(sr / CAST(n AS DOUBLE)
                       / sqrt((sr2 - sr * sr / CAST(n AS DOUBLE))
                       / CAST(n - 1 AS DOUBLE))
                       * sqrt(CAST(252 AS DOUBLE)), 6) END AS sharpe_ann
            FROM a ORDER BY flag"""))

  /** Shapley-value attribution — the game-theoretically FAIR credit
    * split (last-touch over-credits closers, linear ignores synergy,
    * Markov needs a chain model; Shapley is the unique efficient/
    * symmetric/dummy-free allocation): channels = the three
    * pre-purchase touch types {view, click, signup}, each user's
    * exposure is the EXACT SET of channels seen before their first
    * purchase (the Markov first-purchase cut reused — one window pass,
    * no self-join), the coalition value v(S) is the observed conversion
    * rate of users exposed to exactly S (unobserved coalitions take
    * v = 0, stated), and with k = 3 the Shapley sum unrolls to explicit
    * weights {1/3, 1/6, 1/3} over the 8-row coalition table. The
    * EFFICIENCY law Σφ = v(full) − v(∅) is emitted as a column (and
    * pinned in spec) — the property the other attribution models
    * cannot state. Scale: one events window pass + an 8-row pivot. */
  val qAttributionShapley = Q(
    "q_attribution_shapley",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val wAll = Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val base = Tables.events(s, dir)
        .where(col("event_type").isin("view", "click", "signup",
          "purchase"))
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("rn", row_number().over(w))
        .withColumn("prn", min(
          when(col("event_type") === "purchase", col("rn"))).over(wAll))
      val mask = base
        .where(col("event_type") =!= "purchase"
          && (col("prn").isNull || col("rn") < col("prn")))
        .groupBy("user_id")
        .agg(
          (coalesce(max(when(col("event_type") === "view", 1L)), lit(0L))
            + coalesce(max(when(col("event_type") === "click", 2L)),
              lit(0L))
            + coalesce(max(when(col("event_type") === "signup", 4L)),
              lit(0L))).as("mask"),
          max(when(col("prn").isNotNull, 1L).otherwise(0L)).as("cv"))
      val rates = mask.groupBy("mask")
        .agg(count(lit(1)).as("users"), sum(col("cv")).as("convs"))
      val vexprs = (0 to 7).map(m =>
        s"coalesce(max(CASE WHEN mask = $m THEN CAST(convs AS DOUBLE)" +
          s" / CAST(users AS DOUBLE) END), CAST(0 AS DOUBLE)) AS v$m")
      val piv = rates.selectExpr(vexprs: _*)
      val third = "CAST(1 AS DOUBLE) / CAST(3 AS DOUBLE)"
      val sixth = "CAST(1 AS DOUBLE) / CAST(6 AS DOUBLE)"
      val phi = Map(
        "view" -> (s"$third * (v1 - v0) + $sixth * ((v3 - v2)" +
          s" + (v5 - v4)) + $third * (v7 - v6)"),
        "click" -> (s"$third * (v2 - v0) + $sixth * ((v3 - v1)" +
          s" + (v6 - v4)) + $third * (v7 - v5)"),
        "signup" -> (s"$third * (v4 - v0) + $sixth * ((v5 - v1)" +
          s" + (v6 - v2)) + $third * (v7 - v3)"))
      val out = phi.toSeq.sortBy(_._1).map { case (ch, e) =>
        piv.select(lit(ch).as("channel"),
          expr(s"round($e, 6)").as("phi"),
          expr("round(v7, 6)").as("v_full"),
          expr("round(v0, 6)").as("v_none"),
          expr(s"round((${phi("click")}) + (${phi("signup")})" +
            s" + (${phi("view")}), 6)").as("phi_total"))
      }
      out.reduce(_.unionAll(_)).orderBy("channel")
    },
    Some {
      val vsel = (0 to 7).map(m =>
        s"coalesce(max(CASE WHEN mask = $m THEN CAST(convs AS DOUBLE)" +
          s" / CAST(users AS DOUBLE) END), CAST(0 AS DOUBLE)) AS v$m")
        .mkString(", ")
      val third = "CAST(1 AS DOUBLE) / CAST(3 AS DOUBLE)"
      val sixth = "CAST(1 AS DOUBLE) / CAST(6 AS DOUBLE)"
      val phiV = s"$third * (v1 - v0) + $sixth * ((v3 - v2)" +
        s" + (v5 - v4)) + $third * (v7 - v6)"
      val phiC = s"$third * (v2 - v0) + $sixth * ((v3 - v1)" +
        s" + (v6 - v4)) + $third * (v7 - v5)"
      val phiS = s"$third * (v4 - v0) + $sixth * ((v5 - v1)" +
        s" + (v6 - v2)) + $third * (v7 - v3)"
      s"""WITH base0 AS (SELECT user_id, event_type,
                    row_number() OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS rn
                  FROM events
                  WHERE event_type IN ('view', 'click', 'signup',
                    'purchase')),
              base AS (SELECT user_id, event_type, rn,
                         min(CASE WHEN event_type = 'purchase' THEN rn
                           END) OVER (PARTITION BY user_id) AS prn
                       FROM base0),
              mk AS (SELECT
                       coalesce(max(CASE WHEN event_type = 'view'
                         THEN 1 END), 0)
                       + coalesce(max(CASE WHEN event_type = 'click'
                         THEN 2 END), 0)
                       + coalesce(max(CASE WHEN event_type = 'signup'
                         THEN 4 END), 0) AS mask,
                       max(CASE WHEN prn IS NOT NULL THEN 1 ELSE 0 END)
                         AS cv
                     FROM base
                     WHERE event_type <> 'purchase'
                       AND (prn IS NULL OR rn < prn)
                     GROUP BY user_id),
              rates AS (SELECT mask, CAST(count(*) AS BIGINT) AS users,
                          CAST(sum(cv) AS BIGINT) AS convs
                        FROM mk GROUP BY mask),
              piv AS (SELECT $vsel FROM rates),
              phis AS (SELECT 'click' AS channel,
                         round($phiC, 6) AS phi, v7, v0,
                         round(($phiC) + ($phiS) + ($phiV), 6)
                           AS phi_total
                       FROM piv
                       UNION ALL
                       SELECT 'signup', round($phiS, 6), v7, v0,
                         round(($phiC) + ($phiS) + ($phiV), 6)
                       FROM piv
                       UNION ALL
                       SELECT 'view', round($phiV, 6), v7, v0,
                         round(($phiC) + ($phiS) + ($phiV), 6)
                       FROM piv)
            SELECT channel, phi, round(v7, 6) AS v_full,
                   round(v0, 6) AS v_none, phi_total
            FROM phis ORDER BY channel"""
    })

  val all: Seq[Q] = Seq(qWinTwap, qWinSharpe, qAttributionShapley,
    qAllocWaterfall, qInventoryFifo,
    qWinObv, qWinUlcer,
    qWinRsi, qWinStochastic, qWinAtr, qSeqMarkov2,
    qWinDistinctRolling, qTimeCrosscorr, qSeqPattern,
    qInterarrival, qWinVwap, qWinBollinger, qWinRollingCorr,
    qWinRollingOls, qTimeAutocorr, qActiveUsersRolling,
    qTimeToConvert,
    qWinDrawdown, qAttributionLastTouch, qAttributionLinear,
    qAttributionMarkov,
    qWinParetoAbc, qInventoryBacklog,
    qWinRankTopn, qWinRownumDedupe, qWinLagYoy, qWinRunningFrame, qWinNtile,
    qWinRangeFrame, qWinFirstLast, qWinPercentRank, qWinGapFill,
    qTimeInterpLinear, qScd2Dim,
    qWinEwma, qWinEwmaDouble, qWinMacd, qWinConcurrency, qFunnelSteps,
    qSessionStats,
    qWinCumeDist,
    qWinStreak,
    qScd2Asof, qWinRatioToReport, qWinDenseRank,
    qSortMultikey, qTopkGlobal, qLimitOffset,
    qUnionShards, qExceptMissing, qIntersectCommon, qDropdupSubset,
    qExceptAllMulti, qIntersectAllMulti,
    qWinIntervalMerge, qMarkovTransitions, qSeqMarkovEval, qCalendarSpine,
    qWinRollingMedian)
}
