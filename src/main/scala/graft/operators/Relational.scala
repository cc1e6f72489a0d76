package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}
import graft.{Det, Q}
import graft.sources.Tables

/** Scans, projections, filters, joins — SURVEY.md §2.A–§2.C.
  *
  * Reference semantics: the eviction-lab ETL's file-to-file transformations
  * (CSV scan → filter per year/level → join stats onto geography by GEOID →
  * assemble map data) re-expressed as declarative DataFrame plans so Catalyst
  * does pushdown/pruning/broadcast selection [ref:Makefile data targets (H),
  * SURVEY.md §0 citation policy — /root/reference empty this session].
  *
  * Scale posture (100 TB): scans rely on parquet predicate/column pushdown;
  * the fact⋈fact join (lineitem⋈orders) is a shuffle join on the natural key
  * which AQE can skew-split; all bounded dims (nation/region, 25/5 rows at
  * every SF) are broadcast explicitly so no shuffle of the fact side occurs
  * for enrichment joins.
  */
object Relational {

  /** Full scan + per-group count (reference: stats CSV scan → counts). */
  val qScanFull = Q(
    "q_scan_full",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag, count(*) AS n
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Projection + predicate pushdown: 3 columns, shipdate range predicate.
    * `.explain` must show PushedFilters + 4-column ReadSchema.
    */
  val qScanPruned = Q(
    "q_scan_pruned",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
               col("l_shipdate") <  lit("1997-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_quantity")
        // (l_orderkey, l_linenumber) is NOT unique in this data — order by
        // every output column for a total order (§7.2 rule 1).
        .orderBy("l_orderkey", "l_linenumber", "l_quantity"),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
            ORDER BY l_orderkey, l_linenumber, l_quantity"""))

  /** Select + systematic rename to abbreviated names + zero-padded key
    * (GEOID-pad analog: `eviction-rate` → `er-16`, FIPS lpad).
    */
  val qProjRename = Q(
    "q_proj_rename",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .select(
          lpad(col("l_orderkey").cast("string"), 12, "0").as("geoid"),
          col("l_linenumber").as("ln"),
          col("l_quantity").as("qty"),
          col("l_extendedprice").as("px"))
        .orderBy("geoid", "ln", "qty", "px"),
    Some("""SELECT lpad(CAST(l_orderkey AS VARCHAR), 12, '0') AS geoid,
                   l_linenumber AS ln, l_quantity AS qty, l_extendedprice AS px
            FROM lineitem ORDER BY geoid, ln, qty, px"""))

  /** Conjunctive predicate: date range + categorical + numeric threshold
    * (reference: year∈range, level filter, population threshold).
    */
  val qFilterRange = Q(
    "q_filter_range",
    (s, dir) =>
      Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
               col("o_orderdate") <  lit("1999-01-01").cast("timestamp") &&
               col("o_orderpriority") === "1-URGENT" &&
               col("o_totalprice") > 150000.0)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy("o_orderkey"),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1999-01-01 00:00:00'
              AND o_orderpriority = '1-URGENT'
              AND o_totalprice > 150000.0
            ORDER BY o_orderkey"""))

  /** Sentinel handling (reference: suppressed cells → -1/empty): negative
    * acctbal treated as suppressed → nulled; count both populations.
    */
  val qFilterNullSentinel = Q(
    "q_filter_null_sentinel",
    (s, dir) =>
      Tables.customer(s, dir)
        .withColumn("bal_clean",
          when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal")))
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_all"),
          count(col("bal_clean")).as("n_valid"),
          Det.dsum(col("bal_clean")).as("sum_valid"),
          Det.dsum(coalesce(col("bal_clean"), lit(0.0))).as("sum_coalesced"))
        .orderBy("c_mktsegment"),
    Some(s"""SELECT c_mktsegment, count(*) AS n_all,
                    count(bal_clean) AS n_valid,
                    ${Det.sqlSum("bal_clean")} AS sum_valid,
                    ${Det.sqlSum("coalesce(bal_clean, 0.0)")} AS sum_coalesced
             FROM (SELECT c_mktsegment,
                          CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END
                            AS bal_clean
                   FROM customer)
             GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Membership filter via computed key set (reference: GEOIDs restricted to
    * those present in the geometry files) — left-semi join then aggregate.
    */
  val qFilterInSubquery = Q(
    "q_filter_in_subquery",
    (s, dir) => {
      val building = Tables.customer(s, dir)
        .where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      Tables.orders(s, dir)
        .join(building, col("o_custkey") === col("c_custkey"), "left_semi")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), Det.dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")
    },
    Some(s"""SELECT o_orderstatus, count(*) AS n,
                    ${Det.sqlSum("o_totalprice")} AS total
             FROM orders
             WHERE o_custkey IN
               (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
             GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** Equi inner join fact↔fact (stats↔geometry by GEOID analog). Shuffle
    * join on the key; aggregated to a bounded result.
    */
  val qJoinInner = Q(
    "q_join_inner",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
             Det.dsum(col("l_extendedprice")).as("sum_px"))
        .orderBy("o_orderpriority"),
    Some(s"""SELECT o_orderpriority, count(*) AS n,
                    ${Det.sqlSum("l_extendedprice")} AS sum_px
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** Small-dim broadcast join (25-row nation = state-names lookup analog).
    * Explicit broadcast() → BroadcastHashJoinExec, no fact-side shuffle.
    */
  val qJoinBroadcast = Q(
    "q_join_broadcast",
    (s, dir) =>
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_cust"), Det.dsum(col("c_acctbal")).as("bal"))
        .orderBy("n_name"),
    Some(s"""SELECT n_name, count(*) AS n_cust,
                    ${Det.sqlSum("c_acctbal")} AS bal
             FROM customer JOIN nation ON c_nationkey = n_nationkey
             GROUP BY n_name ORDER BY n_name"""))

  /** Left outer preserving unmatched (geography with no stats keeps its
    * geometry row, null attributes).
    */
  val qJoinLeft = Q(
    "q_join_left",
    (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(count(col("o_orderkey")).as("n_orders"),
             Det.dsum(col("o_totalprice")).as("total"))
        .orderBy("c_custkey"),
    Some(s"""SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
                    ${Det.sqlSum("o_totalprice")} AS total
             FROM customer LEFT JOIN orders ON c_custkey = o_custkey
             GROUP BY c_custkey, c_name ORDER BY c_custkey"""))

  /** Semi join: entities having data (GEOIDs with ≥1 stats row). */
  val qJoinSemi = Q(
    "q_join_semi",
    (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            ORDER BY c_custkey"""))

  /** Anti join: entities missing data (GEOIDs with no geometry — the
    * reference logs these in validation).
    */
  val qJoinAnti = Q(
    "q_join_anti",
    (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name, c_mktsegment FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            ORDER BY c_custkey"""))

  /** Null-safe equality join (`<=>` / SQL `IS NOT DISTINCT FROM`) — the
    * join NULL-keyed rows still participate in (late-arriving dimension
    * keys, optional attributes used as join keys: a plain `=` silently
    * drops every NULL row, the classic reconciliation-count bug). NULL
    * keys are synthesized deterministically (`nullif(k % 7, 3)` on both
    * sides) so the NULL<=>NULL class is populated and counted. Catalyst
    * plans null-safe equality as a HASH join key (EqualNullSafe is
    * equi-joinable — no nested-loop degradation; PlanLint's cartesian
    * ban would catch a regression). Output: pair count per key class,
    * NULL class surfaced as -1.
    */
  val qJoinNullSafe = Q(
    "q_join_null_safe",
    (s, dir) => {
      val c = Tables.customer(s, dir)
        .select(col("c_custkey"),
          expr("nullif(c_nationkey % 7, 3)").as("ck"))
      val sup = Tables.supplier(s, dir)
        .select(col("s_suppkey"),
          expr("nullif(s_nationkey % 7, 3)").as("sk"))
      c.join(sup, col("ck") <=> col("sk"))
        .groupBy(coalesce(col("ck"), lit(-1L))
          .cast(org.apache.spark.sql.types.LongType).as("k_class"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("c_custkey")).as("n_cust"),
          countDistinct(col("s_suppkey")).as("n_supp"))
        .orderBy("k_class")
    },
    Some("""SELECT CAST(coalesce(c.ck, -1) AS BIGINT) AS k_class,
                   count(*) AS n_pairs,
                   count(DISTINCT c.c_custkey) AS n_cust,
                   count(DISTINCT s.s_suppkey) AS n_supp
            FROM (SELECT c_custkey, nullif(c_nationkey % 7, 3) AS ck
                  FROM customer) c
            JOIN (SELECT s_suppkey, nullif(s_nationkey % 7, 3) AS sk
                  FROM supplier) s
              ON c.ck IS NOT DISTINCT FROM s.sk
            GROUP BY 1 ORDER BY 1"""))

  /** FLAGSHIP — 4-way star assembly (stats⋈demographics⋈geo⋈parent-names):
    * weighted revenue per (region, nation, year). Catalyst broadcasts the
    * bounded dims; the only big shuffle is lineitem⋈orders on orderkey.
    */
  val qJoinMultiwayStar = Q(
    "q_join_multiway_star",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = broadcast(Tables.nation(s, dir))
      val r = broadcast(Tables.region(s, dir))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"),
          year(col("o_orderdate")).as("yr"))
        .agg(
          Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"),
          count(lit(1)).as("n_rows"))
        .orderBy("r_name", "n_name", "yr")
    },
    Some(s"""SELECT r_name, n_name,
                    CAST(year(o_orderdate) AS INTEGER) AS yr,
                    ${Det.sqlSum("l_extendedprice * (1.0 - l_discount)")}
                      AS revenue,
                    count(*) AS n_rows
             FROM lineitem
             JOIN orders   ON l_orderkey  = o_orderkey
             JOIN customer ON o_custkey   = c_custkey
             JOIN nation   ON c_nationkey = n_nationkey
             JOIN region   ON n_regionkey = r_regionkey
             GROUP BY r_name, n_name, yr
             ORDER BY r_name, n_name, yr"""))

  /** Non-equi self join: lineitem pairs within an order,
    * l1.linenumber < l2.linenumber (engine-completeness extension).
    * Equi component on orderkey keeps it a hash/SMJ join with a range
    * residual, NOT a cross join.
    */
  val qJoinThetaSelf = Q(
    "q_join_theta_self",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity")
      val l1 = li.toDF("k", "ln1", "q1")
      val l2 = li.toDF("k2", "ln2", "q2")
      l1.join(l2, col("k") === col("k2") && col("ln1") < col("ln2"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_pairs"),
             Det.dsum(col("q1") + col("q2")).as("qsum"))
        .orderBy("k")
    },
    Some(s"""SELECT l1.l_orderkey AS k, count(*) AS n_pairs,
                    ${Det.sqlSum("l1.l_quantity + l2.l_quantity")} AS qsum
             FROM lineitem l1 JOIN lineitem l2
               ON l1.l_orderkey = l2.l_orderkey
              AND l1.l_linenumber < l2.l_linenumber
             GROUP BY l1.l_orderkey ORDER BY k"""))

  /** Hierarchy join on derived prefix key (tract→county via
    * substr(GEOID,1,5) analog): zero-pad orderkey, take prefix, join back to
    * a dim built on the same prefix.
    */
  val qJoinSubstringParent = Q(
    "q_join_substring_parent",
    (s, dir) => {
      val o = Tables.orders(s, dir)
        .withColumn("geoid", lpad(col("o_orderkey").cast("string"), 12, "0"))
        .withColumn("parent", substring(col("geoid"), 1, 8))
      val parents = o.groupBy("parent")
        .agg(count(lit(1)).as("n_children"))
      o.join(parents, "parent")
        .groupBy("parent", "n_children")
        .agg(Det.dsum(col("o_totalprice")).as("total"))
        .orderBy("parent")
    },
    Some(s"""WITH o AS (SELECT *,
                    substring(lpad(CAST(o_orderkey AS VARCHAR), 12, '0'), 1, 8)
                      AS parent FROM orders),
                  p AS (SELECT parent, count(*) AS n_children
                        FROM o GROUP BY parent)
             SELECT o.parent, p.n_children,
                    ${Det.sqlSum("o.o_totalprice")} AS total
             FROM o JOIN p ON o.parent = p.parent
             GROUP BY o.parent, p.n_children ORDER BY o.parent"""))

  /** As-of join: each purchase matched to the latest prior (ts ≤ purchase
    * ts) signup of the same user. Spark has no native as-of join; instead of
    * a pairwise join we union both sides and take
    * `last(signup_ts, ignoreNulls)` over (user ORDER BY ts) — ONE shuffle on
    * user_id, no join, linear in events. Ties (signup & purchase at the
    * same ts) order signups first = inclusive `>=` ASOF semantics.
    */
  val qJoinAsof = Q(
    "q_join_asof",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      val signups = ev.where(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("ts").as("s_ts"), lit(0).as("tag"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          lit(null).cast("timestamp").as("s_ts"), lit(1).as("tag"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("tag"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      signups.unionByName(purchases)
        .withColumn("signup_ts", last(col("s_ts"), ignoreNulls = true).over(w))
        .where(col("tag") === 1)
        .select("event_id", "user_id", "ts", "signup_ts")
        .orderBy("event_id")
    },
    Some("""SELECT p.event_id, p.user_id, p.ts, s.ts AS signup_ts
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN
                 (SELECT * FROM events WHERE event_type = 'signup') s
              ON p.user_id = s.user_id AND p.ts >= s.ts
            ORDER BY p.event_id"""))

  /** FORWARD as-of join — the other time direction ([[qJoinAsof]] binds
    * the latest event AT OR BEFORE; this binds the earliest AT OR AFTER:
    * next-scheduled-maintenance, next price re-mark, time-to-next-
    * purchase): each click joined to the user's next purchase. Same
    * linear union+window core (one user_id shuffle, no pairwise join) —
    * `first(ignoreNulls)` over the FOLLOWING frame instead of `last`
    * over the preceding one; purchases tag-sort after clicks at equal
    * ts so an exactly-simultaneous purchase matches (mirroring the
    * oracle's `c.ts <= p.ts` ASOF inequality).
    */
  val qJoinAsofForward = Q(
    "q_join_asof_forward",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"),
          lit(null).cast("timestamp").as("p_ts"), lit(0).as("tag"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("ts").as("p_ts"), lit(1).as("tag"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("tag"), col("event_id"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      clicks.unionByName(purchases)
        .withColumn("next_purchase_ts",
          first(col("p_ts"), ignoreNulls = true).over(w))
        .where(col("tag") === 0)
        .select("event_id", "user_id", "ts", "next_purchase_ts")
        .orderBy("event_id")
    },
    Some("""SELECT c.event_id, c.user_id, c.ts, p.ts AS next_purchase_ts
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            ASOF LEFT JOIN
                 (SELECT * FROM events WHERE event_type = 'purchase') p
              ON c.user_id = p.user_id AND c.ts <= p.ts
            ORDER BY c.event_id"""))

  /** As-of join WITH TOLERANCE — the merge_asof(tolerance=…) semantics a
    * feature pipeline needs when a stale match is worse than no match
    * (sensor fusion, price marks, sessionized context): the same
    * union+window as-of core as [[qJoinAsof]] (one user_id shuffle, no
    * pairwise join), then matches older than the 7-day horizon are
    * nulled — the tolerance is a post-filter on the already-deterministic
    * match, so the operator stays linear and the oracle is the ASOF join
    * with the same CASE. Timestamp arithmetic is exact integer
    * microseconds in both engines.
    */
  val qJoinAsofTolerance = Q(
    "q_join_asof_tolerance",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      val signups = ev.where(col("event_type") === "signup")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("ts").as("s_ts"), lit(0).as("tag"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          lit(null).cast("timestamp").as("s_ts"), lit(1).as("tag"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("tag"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      signups.unionByName(purchases)
        .withColumn("m_ts", last(col("s_ts"), ignoreNulls = true).over(w))
        .where(col("tag") === 1)
        .withColumn("signup_ts",
          when(col("m_ts") >= col("ts") - expr("INTERVAL 7 DAYS"),
            col("m_ts")))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("signup_ts"), col("signup_ts").isNotNull.as("within"))
        .orderBy("event_id")
    },
    Some("""SELECT p.event_id, p.user_id, p.ts,
                   CASE WHEN s.ts >= p.ts - INTERVAL 7 DAY THEN s.ts END
                     AS signup_ts,
                   (CASE WHEN s.ts >= p.ts - INTERVAL 7 DAY THEN s.ts END)
                     IS NOT NULL AS within
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN
                 (SELECT * FROM events WHERE event_type = 'signup') s
              ON p.user_id = s.user_id AND p.ts >= s.ts
            ORDER BY p.event_id"""))

  /** Degree distribution of the co-occurrence graph — the first
    * diagnostic a graph pipeline runs before choosing join strategies
    * (hub detection decides salting/capping; see triangleCensus's
    * super-node caveat): histogram of node degrees over the SAME
    * bucketed graph store as PageRank/SSSP — the degree table is read
    * exchange-free from its bucketed layout and the histogram is a
    * bounded-key two-phase count (distinct degrees ≪ nodes).
    */
  val qGraphDegreeHist = Q(
    "q_graph_degree_hist",
    (s, dir) =>
      graphDeg(s, dir)
        .groupBy(col("deg"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy("deg"),
    Some("""WITH e AS (SELECT DISTINCT l_partkey * 2 AS a,
                              l_suppkey * 2 + 1 AS b FROM lineitem),
                 und AS (SELECT a AS src, b AS dst FROM e
                         UNION ALL SELECT b, a FROM e),
                 deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src)
            SELECT deg, count(*) AS n_nodes
            FROM deg GROUP BY deg ORDER BY deg"""))

  /** Range (interval) join: purchases within 1 hour after a signup of the
    * same user. Equi component on user_id keeps it a hash/SMJ join with the
    * time interval as a residual predicate — never a cross join. The
    * band-limited window (1 h) is what bounds the pair fan-out at scale.
    */
  val qJoinRange = Q(
    "q_join_range",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val signups = ev.where(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("ts").as("s_ts"),
          col("event_id").as("s_id"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("p_id"), col("value"))
      signups.join(purchases,
          col("s_user") === col("p_user") &&
            col("p_ts") >= col("s_ts") &&
            col("p_ts") < col("s_ts") + expr("INTERVAL 1 HOUR"))
        .select(col("s_user").as("user_id"), col("s_id"), col("p_id"),
          col("s_ts"), col("p_ts"), col("value"))
        .orderBy("user_id", "s_id", "p_id")
    },
    Some("""SELECT s.user_id, s.event_id AS s_id, p.event_id AS p_id,
                   s.ts AS s_ts, p.ts AS p_ts, p.value
            FROM (SELECT * FROM events WHERE event_type = 'signup') s
            JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
              ON s.user_id = p.user_id
             AND p.ts >= s.ts AND p.ts < s.ts + INTERVAL '1 hour'
            ORDER BY s.user_id, s_id, p_id"""))

  /** Lateral (correlated) join: per nation, the top-2 customers by account
    * balance — the "top-N related rows per outer row" shape that a plain
    * equi-join + global window can also express, here written as a true
    * correlated subquery via Spark 4's `Dataset.lateralJoin` so the engine
    * surface includes LATERAL itself (DuckDB runs the same query with SQL
    * `JOIN LATERAL`, making the semantics cross-engine-certified).
    *
    * Scale posture: Catalyst decorrelates the subquery (DecorrelateInnerQuery)
    * into a ranked window over the inner side — one shuffle by the
    * correlation key, no per-outer-row re-execution; the outer side here is
    * a bounded dim (25 nations) so the final join broadcasts.
    */
  val qJoinLateral = Q(
    "q_join_lateral",
    (s, dir) => {
      val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
      val c = Tables.customer(s, dir)
      n.lateralJoin(
          c.where(col("c_nationkey") === col("n_nationkey").outer())
            .orderBy(col("c_acctbal").desc, col("c_name"))
            .limit(2)
            .select("c_name", "c_acctbal"))
        .select("n_name", "c_name", "c_acctbal")
        .orderBy("n_name", "c_name", "c_acctbal")
    },
    Some("""SELECT n.n_name, t.c_name, t.c_acctbal
            FROM nation n
            JOIN LATERAL (
              SELECT c_name, c_acctbal FROM customer c
              WHERE c.c_nationkey = n.n_nationkey
              ORDER BY c_acctbal DESC, c_name LIMIT 2) t ON true
            ORDER BY n_name, c_name, c_acctbal"""))

  /** FULL OUTER join — the reconciliation shape (two systems' views of the
    * same key space, preserving rows unique to either side). Sides are two
    * disjoint-ish customer segments so all three row classes (both /
    * left-only / right-only) are populated; the aggregate classifies by
    * null-ness of each side's key. Scale posture: full outer cannot
    * broadcast (both sides must shuffle — Spark plans SMJ/shuffled-hash);
    * the equi-key shuffle is the correct and only shape, and the bounded
    * rollup keeps output O(nations).
    */
  val qJoinFull = Q(
    "q_join_full",
    (s, dir) => {
      val c = Tables.customer(s, dir)
      val neg = c.where(col("c_acctbal") < 0)
        .select(col("c_custkey").as("l_key"),
          col("c_nationkey").as("l_nation"))
      val bld = c.where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("r_key"),
          col("c_nationkey").as("r_nation"))
      neg.join(bld, col("l_key") === col("r_key"), "full_outer")
        .groupBy(coalesce(col("l_nation"), col("r_nation")).as("nation"))
        .agg(count(lit(1)).as("n_rows"),
          count(when(col("l_key").isNotNull && col("r_key").isNotNull, 1))
            .as("n_both"),
          count(when(col("r_key").isNull, 1)).as("n_left_only"),
          count(when(col("l_key").isNull, 1)).as("n_right_only"))
        .orderBy("nation")
    },
    Some("""SELECT coalesce(l.c_nationkey, r.c_nationkey) AS nation,
                   count(*) AS n_rows,
                   count(CASE WHEN l.c_custkey IS NOT NULL
                              AND r.c_custkey IS NOT NULL THEN 1 END)
                     AS n_both,
                   count(CASE WHEN r.c_custkey IS NULL THEN 1 END)
                     AS n_left_only,
                   count(CASE WHEN l.c_custkey IS NULL THEN 1 END)
                     AS n_right_only
            FROM (SELECT * FROM customer WHERE c_acctbal < 0) l
            FULL OUTER JOIN
                 (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') r
              ON l.c_custkey = r.c_custkey
            GROUP BY nation ORDER BY nation"""))

  /** GRID-BUCKETED spatial containment join (point-in-bbox) — the
    * scale-correct shape for "which region contains each point". A naive
    * bbox-containment join is a nested-loop theta join (O(points×boxes) —
    * compute-death when the box side outgrows a broadcast); the standard
    * fix, used by every distributed geo engine, is a space-grid prefilter:
    * each point lands in EXACTLY ONE cell (its own equi-join key), each
    * bbox replicates to every cell it overlaps, the join becomes a plain
    * hash equi-join on the cell id, and the exact containment predicate
    * runs only on co-celled pairs. Point→single-cell means no dedup pass
    * is needed. Coordinates are synthesized as exact binary fractions
    * (k/1024, k/8) from the portable hash, so containment boundaries are
    * bit-identical cross-engine (same doctrine as q_geo_bbox_roundtrip).
    *
    * Oracle formulation is INDEPENDENT: a plain BETWEEN join with no grid —
    * the hash match proves the grid decomposition loses/duplicates nothing.
    */
  val qGeoGridJoin = Q(
    "q_geo_grid_join",
    (s, dir) => {
      val pts = Tables.events(s, dir).select(
        col("event_id"),
        (pmod(Det.pHash32(concat(col("event_id").cast(
          org.apache.spark.sql.types.StringType), lit("x"))), lit(1024))
          .cast(org.apache.spark.sql.types.DoubleType) / 1024.0).as("x"),
        (pmod(Det.pHash32(concat(col("event_id").cast(
          org.apache.spark.sql.types.StringType), lit("y"))), lit(1024))
          .cast(org.apache.spark.sql.types.DoubleType) / 1024.0).as("y"))
        .withColumn("cx", floor(col("x") * 8).cast(
          org.apache.spark.sql.types.IntegerType))
        .withColumn("cy", floor(col("y") * 8).cast(
          org.apache.spark.sql.types.IntegerType))
      // 5 region bboxes at exact 1/8 boundaries, deliberately overlapping
      // (a point may fall in several regions; output is per-region).
      val boxes = Tables.region(s, dir).select(
        col("r_regionkey"),
        (col("r_regionkey").cast(org.apache.spark.sql.types.DoubleType)
          * 0.125).as("xmin"),
        (col("r_regionkey").cast(org.apache.spark.sql.types.DoubleType)
          * 0.125 + 0.375).as("xmax"),
        (pmod(col("r_regionkey"), lit(2)).cast(
          org.apache.spark.sql.types.DoubleType) * 0.25).as("ymin"),
        (pmod(col("r_regionkey"), lit(2)).cast(
          org.apache.spark.sql.types.DoubleType) * 0.25 + 0.5).as("ymax"))
      // replicate each bbox to the grid cells it overlaps; closed upper
      // bounds at exact 1/8 multiples are covered because floor(xmax*8)
      // is then the cell that owns boundary points.
      val boxCells = boxes
        .withColumn("cx", explode(sequence(
          floor(col("xmin") * 8).cast(org.apache.spark.sql.types.IntegerType),
          least(floor(col("xmax") * 8), lit(7.0)).cast(
            org.apache.spark.sql.types.IntegerType))))
        .withColumn("cy", explode(sequence(
          floor(col("ymin") * 8).cast(org.apache.spark.sql.types.IntegerType),
          least(floor(col("ymax") * 8), lit(7.0)).cast(
            org.apache.spark.sql.types.IntegerType))))
      pts.join(broadcast(boxCells), Seq("cx", "cy"))
        .where(col("x") >= col("xmin") && col("x") <= col("xmax") &&
          col("y") >= col("ymin") && col("y") <= col("ymax"))
        .groupBy("r_regionkey")
        .agg(count(lit(1)).as("n_points"),
          sum(col("event_id")).as("sum_ids"),
          min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .orderBy("r_regionkey")
    },
    Some(s"""WITH pts AS (
               SELECT event_id,
                 CAST(((${Det.sqlPHash32("CAST(event_id AS VARCHAR) || 'x'")})
                   % 1024 + 1024) % 1024 AS DOUBLE) / 1024.0 AS x,
                 CAST(((${Det.sqlPHash32("CAST(event_id AS VARCHAR) || 'y'")})
                   % 1024 + 1024) % 1024 AS DOUBLE) / 1024.0 AS y
               FROM events),
             boxes AS (
               SELECT r_regionkey,
                      CAST(r_regionkey AS DOUBLE) * 0.125 AS xmin,
                      CAST(r_regionkey AS DOUBLE) * 0.125 + 0.375 AS xmax,
                      CAST(r_regionkey % 2 AS DOUBLE) * 0.25 AS ymin,
                      CAST(r_regionkey % 2 AS DOUBLE) * 0.25 + 0.5 AS ymax
               FROM region)
             SELECT r_regionkey, count(*) AS n_points,
                    CAST(sum(event_id) AS BIGINT) AS sum_ids,
                    min(event_id) AS min_id, max(event_id) AS max_id
             FROM pts JOIN boxes
               ON x >= xmin AND x <= xmax AND y >= ymin AND y <= ymax
             GROUP BY r_regionkey ORDER BY r_regionkey"""))

  /** RIGHT outer join — the §2.C type left implicit until now (every
    * customer keeps a row even with no orders in the filtered window;
    * planned as a left join with sides swapped, but the API/SQL surface
    * must accept it as written). Null-guarded aggregate distinguishes
    * matched from preserved-only rows.
    */
  val qJoinRight = Q(
    "q_join_right",
    (s, dir) =>
      Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit("1997-06-01").cast("timestamp"))
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"), "right_outer")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"),
          count(col("o_orderkey")).as("n_matched"),
          countDistinct(col("c_custkey")).as("n_customers"))
        .orderBy("c_mktsegment"),
    Some("""SELECT c_mktsegment, count(*) AS n_rows,
                   count(o_orderkey) AS n_matched,
                   count(DISTINCT c_custkey) AS n_customers
            FROM (SELECT * FROM orders
                  WHERE o_orderdate >= TIMESTAMP '1997-06-01 00:00:00') o
            RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** k-nearest-neighbor join: for each probe point (one per nation), the 3
    * nearest customer points by squared euclidean distance, deterministic
    * tie-break on custkey. Coordinates are the synthetic exact-binary-
    * fraction scheme of the geo queries (k + 0.5), so every coordinate
    * difference is an exact INTEGER in a double and dist2 is exact — no
    * float tolerance anywhere. Shape: the probe side is tiny and
    * broadcast; ranking is a WindowGroupLimit-eligible row_number over
    * (dist2, custkey) partitioned by probe, so the exchange carries
    * O(probes·k), not the full cross product. At corpus scale the
    * broadcast-probes pattern is exactly how a small query batch scans a
    * big point table (the spatial analog of q_sim_cosine_topk); for
    * big-probe-set × big-point-set, grid-bucket both sides first
    * (q_geo_grid_join's cell shape).
    */
  val qJoinKnn = Q(
    "q_join_knn",
    (s, dir) => {
      val probes = Tables.nation(s, dir)
        .select(col("n_nationkey"),
          (col("n_nationkey") * 7 % 360 - 180 + 0.5).as("px"),
          (col("n_nationkey") * 13 % 180 - 90 + 0.5).as("py"))
      val pts = Tables.customer(s, dir)
        .select(col("c_custkey"),
          (col("c_custkey") * 3 % 360 - 180 + 0.5).as("cx"),
          (col("c_custkey") * 11 % 180 - 90 + 0.5).as("cy"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("n_nationkey")
        .orderBy(col("dist2"), col("c_custkey"))
      pts.crossJoin(broadcast(probes))
        .withColumn("dist2",
          (col("px") - col("cx")) * (col("px") - col("cx")) +
            (col("py") - col("cy")) * (col("py") - col("cy")))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 3)
        .select("n_nationkey", "c_custkey", "dist2", "rk")
        .orderBy("n_nationkey", "rk")
    },
    Some("""SELECT n_nationkey, c_custkey, dist2, rk
            FROM (SELECT n.n_nationkey, c.c_custkey,
                         (n.px - c.cx) * (n.px - c.cx) +
                         (n.py - c.cy) * (n.py - c.cy) AS dist2,
                         CAST(row_number() OVER (PARTITION BY n.n_nationkey
                           ORDER BY (n.px - c.cx) * (n.px - c.cx) +
                                    (n.py - c.cy) * (n.py - c.cy),
                                    c.c_custkey) AS INTEGER) AS rk
                  FROM (SELECT n_nationkey,
                               n_nationkey * 7 % 360 - 180 + 0.5 AS px,
                               n_nationkey * 13 % 180 - 90 + 0.5 AS py
                        FROM nation) n,
                       (SELECT c_custkey,
                               c_custkey * 3 % 360 - 180 + 0.5 AS cx,
                               c_custkey * 11 % 180 - 90 + 0.5 AS cy
                        FROM customer) c)
            WHERE rk <= 3 ORDER BY n_nationkey, rk"""))

  /** MERGE/upsert (CDC apply): a delta batch — updates to every BUILDING-
    * segment customer (+10.00 on the balance) plus freshly keyed inserts —
    * applied onto the base dimension with MERGE semantics: matched rows
    * take the delta's values, unmatched delta rows insert, everything else
    * carries over. Physical shape is ONE full-outer equi-join on the key +
    * per-column coalesce (delta wins) — the engine-agnostic way to apply a
    * CDC batch when the store has no transactional MERGE; both sides
    * shuffle on the key (an upsert cannot broadcast the base). The output
    * audits the merge: per (segment, action) counts + exact balance sums,
    * where action ∈ update/insert/carry.
    */
  val qMergeUpsert = Q(
    "q_merge_upsert",
    (s, dir) => {
      val cents = (c: org.apache.spark.sql.Column) =>
        round(c * 100).cast(org.apache.spark.sql.types.DecimalType(18, 0))
          .cast(org.apache.spark.sql.types.LongType)
      val base = Tables.customer(s, dir)
        .select(col("c_custkey").as("k"),
          col("c_mktsegment").as("seg"),
          cents(col("c_acctbal")).as("bal"))
      val delta = Tables.customer(s, dir)
        .where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("k"),
          col("c_mktsegment").as("seg"),
          (cents(col("c_acctbal")) + 1000L).as("bal"))
        .unionAll(
          Tables.customer(s, dir).where(col("c_custkey") < 10)
            .select((col("c_custkey") + 10000000L).as("k"),
              lit("NEWSEG").as("seg"),
              lit(0L).as("bal")))
      val merged = base.as("b")
        .join(delta.as("d"), col("b.k") === col("d.k"), "full_outer")
        .select(
          coalesce(col("d.k"), col("b.k")).as("k"),
          coalesce(col("d.seg"), col("b.seg")).as("seg"),
          coalesce(col("d.bal"), col("b.bal")).as("bal"),
          when(col("d.k").isNotNull && col("b.k").isNotNull, "update")
            .when(col("b.k").isNull, "insert")
            .otherwise("carry").as("action"))
      merged.groupBy("seg", "action")
        .agg(count(lit(1)).as("n"), sum(col("bal")).as("sum_cents"),
          min(col("k")).as("min_key"), max(col("k")).as("max_key"))
        .orderBy("seg", "action")
    },
    Some(s"""WITH base AS (SELECT c_custkey AS k, c_mktsegment AS seg,
                   ${Det.sqlRoundCents("c_acctbal")} AS bal
                 FROM customer),
            delta AS (SELECT c_custkey AS k, c_mktsegment AS seg,
                             ${Det.sqlRoundCents("c_acctbal")} + 1000
                               AS bal
                      FROM customer WHERE c_mktsegment = 'BUILDING'
                      UNION ALL
                      SELECT c_custkey + 10000000, 'NEWSEG', 0
                      FROM customer WHERE c_custkey < 10),
            merged AS (SELECT
                COALESCE(d.k, b.k) AS k,
                COALESCE(d.seg, b.seg) AS seg,
                COALESCE(d.bal, b.bal) AS bal,
                CASE WHEN d.k IS NOT NULL AND b.k IS NOT NULL THEN 'update'
                     WHEN b.k IS NULL THEN 'insert'
                     ELSE 'carry' END AS action
              FROM base b FULL JOIN delta d ON b.k = d.k)
            SELECT seg, action, count(*) AS n,
                   CAST(sum(bal) AS BIGINT) AS sum_cents,
                   min(k) AS min_key, max(k) AS max_key
            FROM merged GROUP BY seg, action ORDER BY seg, action"""))

  /** CDC change-LOG application — q_merge_upsert applies one delta batch;
    * this applies an ORDERED multi-event log (updates + delete tombstones,
    * orders replayed as balance-change events on their customer) with
    * last-writer-wins compaction: row_number over (ts DESC, seq DESC) per
    * key — the unique event id as tie-key makes the replay order total —
    * keeps only each key's final event, then ONE left join onto the base
    * snapshot decides carry / update / delete per row. This is the
    * log-compaction shape (Kafka compacted topics, Delta/Hudi snapshot
    * reconstruction): compact FIRST, join ONCE — never fold events
    * one-batch-at-a-time into the base (that's O(events) scans at 100 TB).
    * Output audits the apply per segment: live/deleted/updated counts and
    * the exact post-apply balance (integer cents). One shuffle for the
    * compaction window + one key-partitioned join.
    */
  val qCdcApply = Q(
    "q_cdc_apply",
    (s, dir) => {
      val cents = (c: org.apache.spark.sql.Column) =>
        round(c * 100).cast(org.apache.spark.sql.types.DecimalType(18, 0))
          .cast(org.apache.spark.sql.types.LongType)
      val base = Tables.customer(s, dir)
        .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
          cents(col("c_acctbal")).as("bal"))
      val log = Tables.orders(s, dir)
        .select(col("o_custkey").as("k"), col("o_orderdate").as("ts"),
          col("o_orderkey").as("seq"),
          when(col("o_orderkey") % 10 === 0, "D").otherwise("U").as("op"),
          cents(col("o_totalprice")).as("new_bal"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("k")
        .orderBy(col("ts").desc, col("seq").desc)
      val compacted = log.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1).select("k", "op", "new_bal")
      base.join(compacted, Seq("k"), "left")
        .withColumn("status",
          when(col("op").isNull, "carry")
            .when(col("op") === "D", "delete").otherwise("update"))
        .withColumn("final_bal",
          when(col("op") === "U", col("new_bal")).otherwise(col("bal")))
        .groupBy("seg")
        .agg(count(lit(1)).as("n_base"),
          sum(when(col("status") === "delete", 1L).otherwise(0L))
            .as("n_deleted"),
          sum(when(col("status") === "update", 1L).otherwise(0L))
            .as("n_updated"),
          sum(when(col("status") =!= "delete", col("final_bal"))
            .otherwise(0L)).as("sum_cents_live"))
        .orderBy("seg")
    },
    Some(s"""WITH base AS (SELECT c_custkey AS k, c_mktsegment AS seg,
                   ${Det.sqlRoundCents("c_acctbal")} AS bal
                 FROM customer),
            log AS (SELECT o_custkey AS k, o_orderdate AS ts,
                      o_orderkey AS seq,
                      CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END
                        AS op,
                      ${Det.sqlRoundCents("o_totalprice")} AS new_bal
                    FROM orders),
            compacted AS (SELECT k, op, new_bal
                          FROM (SELECT *, row_number() OVER (
                                  PARTITION BY k
                                  ORDER BY ts DESC, seq DESC) AS rn
                                FROM log)
                          WHERE rn = 1),
            st AS (SELECT b.seg,
                     CASE WHEN l.op IS NULL THEN 'carry'
                          WHEN l.op = 'D' THEN 'delete'
                          ELSE 'update' END AS status,
                     CASE WHEN l.op = 'U' THEN l.new_bal
                          ELSE b.bal END AS final_bal
                   FROM base b LEFT JOIN compacted l ON b.k = l.k)
            SELECT seg, count(*) AS n_base,
                   CAST(sum(CASE WHEN status = 'delete' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_deleted,
                   CAST(sum(CASE WHEN status = 'update' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_updated,
                   CAST(sum(CASE WHEN status <> 'delete' THEN final_bal
                            ELSE 0 END) AS BIGINT) AS sum_cents_live
            FROM st GROUP BY seg ORDER BY seg"""))

  /** Fixed 3-iteration PageRank over the part↔supplier co-occurrence
    * graph (who supplies what, from distinct lineitem pairs; node ids are
    * parity-disjoint: 2·partkey vs 2·suppkey+1). Top-20 by rank with node
    * tie-break. See Graph.pageRank for the Dec12 determinism doctrine —
    * the oracle replays the identical affine/divide IEEE sequence per
    * iteration, including the (1.0 − 0.85) subtraction (NOT the literal
    * 0.15, which is a different double).
    */
  /** Bucketed GRAPH STORE shared by the whole graph family
    * (q_graph_pagerank iteration, q_graph_sssp traversal): the
    * part↔supplier co-occurrence graph — 591k-row scan+distinct,
    * symmetrize, degree agg (~2.5 s of bench time at sf0.1 when paid
    * per-query) — materialized once per (session, inputs) as BUCKETED
    * tables on the traversal join key (Bucketing.ensureBucketed, make
    * semantics): every PageRank iteration AND every BFS round joins the
    * adjacency on src, so bucketing removes the 1.2M-row adjacency
    * exchange from EVERY round of EVERY consumer — only the O(nodes) /
    * O(frontier) side moves, which is exactly the §7.3 "pre-partition
    * both sides so iterations are exchange-free" posture for a cluster.
    * One write-path artifact, two query families; repeat invocations pay
    * iteration/traversal cost only.
    *
    * Catalog names are keyed by an md5 of the input dir (the
    * dirKeyedTempPath doctrine): a fixed global name would race two
    * concurrent sessions — or alias two scale dirs whose plans are built
    * before either executes — onto one warehouse location. Consumers
    * request only the table(s) they traverse: SSSP never builds the
    * degree table it doesn't read.
    */
  /** Bucketed undirected adjacency (both orientations, bucketed on src). */
  private[operators] def graphUnd(s: SparkSession, dir: String): DataFrame = {
    val t = s"graft_pr_und_${graft.sources.SourcesSinks.dirKey(dir)}"
    val e = Tables.lineitem(s, dir)
      .select((col("l_partkey") * 2).as("a"),
        (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
    graft.sources.Bucketing.ensureBucketed(
      e.union(e.select(col("b").as("a"), col("a").as("b")))
        .toDF("src", "dst"),
      t, "src", buckets = 32, inputs = Seq(s"$dir/lineitem.parquet"))
    s.table(t)
  }

  /** Bucketed degree table derived from the adjacency store. */
  private[operators] def graphDeg(s: SparkSession, dir: String): DataFrame = {
    val t = s"graft_pr_deg_${graft.sources.SourcesSinks.dirKey(dir)}"
    graft.sources.Bucketing.ensureBucketed(
      graphUnd(s, dir).groupBy("src").agg(count(lit(1)).as("deg")),
      t, "src", buckets = 32, inputs = Seq(s"$dir/lineitem.parquet"))
    s.table(t)
  }

  val qGraphPagerank = Q(
    "q_graph_pagerank",
    (s, dir) => {
      val (und, deg) = (graphUnd(s, dir), graphDeg(s, dir))
      Graph.pageRankIterate(und, deg, iters = 3)
        .orderBy(col("r").desc, col("node"))
        .limit(20)
    },
    Some {
      val iters = 3
      val prev = (i: Int) => if (i == 0) "r0" else s"r$i"
      val iterCtes = (1 to iters).map { i =>
        s"""r$i AS (SELECT d.src AS node, d.deg,
                 (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                   / (SELECT nn FROM n)
                 + CAST(0.85 AS DOUBLE)
                   * COALESCE(s.s, CAST(0.0 AS DOUBLE)) AS r
               FROM deg d LEFT JOIN
                 (SELECT u.dst AS node,
                         CAST(sum(CAST(p.r / CAST(p.deg AS DOUBLE)
                                       AS DECIMAL(18,12))) AS DOUBLE) AS s
                  FROM und u JOIN ${prev(i - 1)} p ON p.node = u.src
                  GROUP BY u.dst) s ON s.node = d.src)"""
      }.mkString(",\n")
      s"""WITH e AS (SELECT DISTINCT l_partkey * 2 AS a,
                    l_suppkey * 2 + 1 AS b FROM lineitem),
            und AS (SELECT a AS src, b AS dst FROM e
                    UNION ALL SELECT b, a FROM e),
            deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
            n AS (SELECT CAST(count(*) AS DOUBLE) AS nn FROM deg),
            r0 AS (SELECT src AS node, deg,
                     CAST(1.0 AS DOUBLE) / (SELECT nn FROM n) AS r
                   FROM deg),
            $iterCtes
          SELECT node, r FROM r$iters
          ORDER BY r DESC, node LIMIT 20"""
    })

  /** Hierarchy rollup — the BFS-traversal family (org charts, BOM
    * explosion, category trees) that flat joins can't express and Spark
    * has no recursive CTE for. A deterministic forest over customers
    * (parent = custkey div 10; keys < 10 are roots, so every chain
    * terminates and depth grows with log₁₀ of the key domain) is resolved
    * to (node, root, depth) by Graph.rootAndDepth's POINTER DOUBLING —
    * ⌈log₂ depth⌉ self-join rounds, not depth rounds: the scale posture
    * that makes a depth-64 hierarchy 6 shuffles at 100 TB. The oracle IS
    * a recursive CTE (DuckDB has one; the hash match proves the doubling
    * loop equals the textbook per-level recursion), rolled up per root.
    */
  val qHierarchyRollup = Q(
    "q_hierarchy_rollup",
    (s, dir) => {
      val nodes = Tables.customer(s, dir)
        .select(col("c_custkey").as("node"),
          expr("c_custkey div 10").as("parent"),
          (col("c_custkey") < 10).as("is_root"))
      Graph.rootAndDepth(nodes)
        .groupBy("root")
        .agg(count(lit(1)).as("n_nodes"),
          max(col("depth")).as("max_depth"),
          sum(col("depth")).as("sum_depth"))
        .orderBy("root")
    },
    Some("""WITH RECURSIVE r(node, root, depth) AS (
              SELECT c_custkey, c_custkey, CAST(0 AS BIGINT)
              FROM customer WHERE c_custkey < 10
              UNION ALL
              SELECT c.c_custkey, r.root, r.depth + 1
              FROM customer c JOIN r ON r.node = c.c_custkey // 10
              WHERE c.c_custkey >= 10)
            SELECT root, count(*) AS n_nodes, max(depth) AS max_depth,
                   CAST(sum(depth) AS BIGINT) AS sum_depth
            FROM r GROUP BY root ORDER BY root"""))

  /** Multi-source BFS shortest hops (the k-hop-neighborhood traversal:
    * supplier reach, link radius, GNN neighborhood sampling) over the
    * same part↔supplier graph as q_graph_pagerank — and over the same
    * bucketed graph STORE (graphStore): one write-path artifact serves
    * both the iteration family and the traversal family, each round's
    * adjacency join exchange-free. Seeds = every node ≡ 0 (mod 100);
    * hop cap 4 is part of the operator's semantics (the scale guard —
    * an uncapped BFS over a connected 100 TB graph returns the corpus)
    * and is mirrored in the oracle. The oracle is a recursive CTE with
    * UNION dedup on (node, hops) and the same cap; min(hops) per node
    * IS the BFS distance, so the hash match proves the frontier loop ≡
    * textbook recursion — the second member (after q_hierarchy_rollup)
    * of the recursive-CTE family Spark lacks natively.
    */
  val qGraphSssp = Q(
    "q_graph_sssp",
    (s, dir) => {
      val und = graphUnd(s, dir)
      val seeds = und.select(col("src").as("node"))
        .where(pmod(col("node"), lit(100)) === 0).distinct()
      Graph.bfsHops(und, seeds, maxHops = 4).orderBy("node")
    },
    Some("""WITH RECURSIVE
              e AS (SELECT DISTINCT l_partkey * 2 AS a,
                           l_suppkey * 2 + 1 AS b FROM lineitem),
              und AS (SELECT a AS src, b AS dst FROM e
                      UNION ALL SELECT b, a FROM e),
              walk(node, hops) AS (
                SELECT DISTINCT src, 0 FROM und WHERE src % 100 = 0
                UNION
                SELECT u.dst, w.hops + 1
                FROM walk w JOIN und u ON u.src = w.node
                WHERE w.hops < 4)
            SELECT node, CAST(min(hops) AS INTEGER) AS hops
            FROM walk GROUP BY node ORDER BY node"""))

  /** Correlated scalar subquery, driven through `spark.sql` end-to-end
    * (the full SQL surface, not a DataFrame translation): orders priced
    * above their own priority class's average. Catalyst DECORRELATES the
    * per-row subquery into one aggregate + join (plan-asserted: no
    * per-outer-row re-execution, no cartesian) — the rewrite that makes
    * correlated SQL viable at 100 TB. The ONE query text runs verbatim on
    * BOTH engines (modulo the Det decimal-avg spelling shared already),
    * so this row also certifies SQL-dialect compatibility for the
    * subquery corner.
    */
  val qFilterAboveAvg = Q(
    "q_filter_above_avg",
    (s, dir) => {
      Tables.createViews(s, dir)
      s.sql(s"""SELECT o1.o_orderpriority, count(*) AS n_above,
                       min(o1.o_orderkey) AS min_key
                FROM orders o1
                WHERE o1.o_totalprice >
                  (SELECT ${Det.sqlAvg("o2.o_totalprice")}
                   FROM orders o2
                   WHERE o2.o_orderpriority = o1.o_orderpriority)
                GROUP BY o1.o_orderpriority
                ORDER BY o1.o_orderpriority""")
    },
    Some(s"""SELECT o1.o_orderpriority, count(*) AS n_above,
                    min(o1.o_orderkey) AS min_key
             FROM orders o1
             WHERE o1.o_totalprice >
               (SELECT ${Det.sqlAvg("o2.o_totalprice")}
                FROM orders o2
                WHERE o2.o_orderpriority = o1.o_orderpriority)
             GROUP BY o1.o_orderpriority
             ORDER BY o1.o_orderpriority"""))

  /** Verbatim-SQL WINDOW surface — ONE query text executed unchanged by
    * BOTH engines (`spark.sql` over the registered views; the oracle IS
    * the same string), certifying dialect compatibility for the window
    * corner the way q_filter_above_avg certifies correlated subqueries:
    * partitioned row_number top-k, lag delta, and an explicit
    * ROWS-framed running sum in one statement. The only non-ANSI-shared
    * spelling hazards (count's return type, window-sum widening) are
    * pinned with CASTs inside the shared text. NOTE (constant-
    * cardinality partitions): the window partitions on the 5-value
    * priority key over the YEAR axis — O(years) per partition,
    * dataset-bounded (calendar-axis justification).
    */
  val qSqlWindowVerbatim: Q = {
    val sqlText =
      """SELECT o_orderpriority, yr, n,
                n - lag(n) OVER (PARTITION BY o_orderpriority
                                 ORDER BY yr) AS delta,
                CAST(sum(n) OVER (PARTITION BY o_orderpriority ORDER BY yr
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum
         FROM (SELECT o_orderpriority,
                      CAST(year(o_orderdate) AS INTEGER) AS yr,
                      CAST(count(*) AS BIGINT) AS n
               FROM orders GROUP BY 1, 2) d
         ORDER BY o_orderpriority, yr"""
    Q("q_sql_window_verbatim",
      (s, dir) => { Tables.createViews(s, dir); s.sql(sqlText) },
      Some(sqlText))
  }

  /** Data-quality constraint suite — the validation pass an ingestion
    * pipeline runs before accepting a drop (the reference ships validation
    * scripts for exactly this role; SURVEY §7.6). Four constraint
    * families, each a count of VIOLATIONS (0 = clean) so the output is a
    * fixed bounded table an alerting system diffs:
    *  - uniqueness: duplicated primary keys in orders;
    *  - referential integrity: orders→customer orphans (anti-join — at
    *    scale a shuffle semi/anti on the key, never a broadcast of the
    *    parent);
    *  - range: non-positive order totals;
    *  - completeness: null order dates.
    * One row per check with the violating-key extremes for triage.
    */
  val qDqChecks = Q(
    "q_dq_checks",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val dupKeys = o.groupBy("o_orderkey")
        .agg(count(lit(1)).as("cnt")).where(col("cnt") > 1)
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_k"),
          max(col("o_orderkey")).as("max_k"))
        .select(lit("pk_unique_orders").as("check_name"), col("n"),
          col("min_k"), col("max_k"))
      val orphans = o.join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_k"),
          max(col("o_orderkey")).as("max_k"))
        .select(lit("fk_orders_customer").as("check_name"), col("n"),
          col("min_k"), col("max_k"))
      val range = o.where(col("o_totalprice") <= 0)
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_k"),
          max(col("o_orderkey")).as("max_k"))
        .select(lit("range_totalprice_positive").as("check_name"), col("n"),
          col("min_k"), col("max_k"))
      val nulls = o.where(col("o_orderdate").isNull)
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_k"),
          max(col("o_orderkey")).as("max_k"))
        .select(lit("notnull_orderdate").as("check_name"), col("n"),
          col("min_k"), col("max_k"))
      dupKeys.union(orphans).union(range).union(nulls)
        .orderBy("check_name")
    },
    Some("""SELECT 'pk_unique_orders' AS check_name, count(*) AS n,
                   min(o_orderkey) AS min_k, max(o_orderkey) AS max_k
            FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey
                  HAVING count(*) > 1)
            UNION ALL
            SELECT 'fk_orders_customer', count(*),
                   min(o_orderkey), max(o_orderkey)
            FROM orders o WHERE NOT EXISTS
              (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
            UNION ALL
            SELECT 'range_totalprice_positive', count(*),
                   min(o_orderkey), max(o_orderkey)
            FROM orders WHERE o_totalprice <= 0
            UNION ALL
            SELECT 'notnull_orderdate', count(*),
                   min(o_orderkey), max(o_orderkey)
            FROM orders WHERE o_orderdate IS NULL
            ORDER BY check_name"""))

  /** Composite shipping-priority analytics (the TPC-H Q3 shape): revenue
    * of each unshipped BUILDING-segment order, top-10 by revenue — the
    * classic select-project-join-aggregate-topN composite that exercises
    * filter pushdown on BOTH join inputs, a fact⋈fact shuffle join, exact
    * cents aggregation and TakeOrderedAndProject in one plan. Revenue =
    * Σ price·(1−disc) in exact cents: price·100 is an integer and disc is
    * a 2-decimal fraction, so price·(100−disc·100) is an exact integer of
    * centi-cents — summed as longs, divided back at the edge.
    */
  val qCompositeShipping = Q(
    "q_composite_shipping",
    (s, dir) => {
      val o = Tables.orders(s, dir)
        .where(col("o_orderdate") < lit("1995-03-15"))
      val l = Tables.lineitem(s, dir)
        .where(col("l_shipdate") > lit("1995-03-15"))
        .select(col("l_orderkey"),
          (round(col("l_extendedprice") * 100).cast(org.apache.spark.sql.types.DecimalType(18, 0))
            .cast(org.apache.spark.sql.types.LongType) *
            (lit(100L) - round(col("l_discount") * 100)
              .cast(org.apache.spark.sql.types.DecimalType(18, 0))
              .cast(org.apache.spark.sql.types.LongType)))
            .as("rev_cc"))
      val c = Tables.customer(s, dir)
        .where(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      o.join(c, col("o_custkey") === col("c_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .agg(sum(col("rev_cc")).as("revenue_cc"))
        .orderBy(col("revenue_cc").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"),
          col("o_orderdate").cast("date").cast("string").as("order_day"),
          col("o_orderpriority"), col("revenue_cc"))
    },
    Some(s"""SELECT o_orderkey,
                   CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_day,
                   o_orderpriority,
                   CAST(sum(${Det.sqlRoundCents("l_extendedprice")} *
                            (100 - CAST(round(l_discount * 100) AS BIGINT)))
                     AS BIGINT) AS revenue_cc
            FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
             AND c.c_mktsegment = 'BUILDING'
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
              AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
            GROUP BY o_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue_cc DESC, o_orderkey LIMIT 10"""))

  /** One order may not contribute more than this many distinct items to
    * the basket self-join — the same drop-oversized-keys doctrine as
    * `Llm.MaxBucket`: an adversarial mega-basket (one okey with 10^6
    * items) makes the a<b self-join quadratic at 100 TB, and a basket
    * that large is catalog noise, not co-purchase signal. Applied
    * IDENTICALLY in the DuckDB oracle (row_number ≤ cap, keyed by
    * partkey so the kept subset is deterministic); TPC-H baskets are ≤ 7
    * items at every SF, so test-scale outputs are unchanged.
    */
  val MaxBasket = 256

  /** Market-basket co-occurrence: the top-20 part pairs appearing in the
    * same order (the association-mining primitive behind "frequently
    * bought together"). Self-join on the order key with a<b ordering —
    * fanout is quadratic only in per-order basket size, never in corpus
    * size, and basket size is hard-capped at [[MaxBasket]] before the
    * join (the 100 TB guard, enforced in both engines).
    */
  /** r21: the per-order item set as ONE sorted capped array — a single
    * okey-keyed aggregate replaces the old distinct exchange (hash on
    * (okey, part)) PLUS the row_number window exchange (hash on okey):
    * sort_array(collect_set(part)) is exactly "distinct parts, part-
    * ascending", and slice(…, 1, MaxBasket) is exactly rn <= MaxBasket.
    * Consumers explode pairs/items MAP-SIDE off this frame, so the
    * a<b self-join disappears from both basket queries; the only
    * remaining exchanges are the fundamental pair/support aggregates.
    */
  private def basketArrays(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
      .groupBy("okey")
      .agg(expr(s"slice(sort_array(collect_set(part)), 1, $MaxBasket)")
        .as("ps"))

  private val basketPairsE =
    "flatten(transform(ps, (x, i) -> transform(" +
      "slice(ps, i + 2, size(ps)), y -> named_struct('pa', x, 'pb', y))))"

  val qBasketPairs = Q(
    "q_basket_pairs",
    (s, dir) =>
      basketArrays(s, dir)
        .select(explode(expr(basketPairsE)).as("p"))
        .select(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .groupBy("pa", "pb")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("pa"), col("pb"))
        .limit(20),
    Some(s"""WITH items AS (
              SELECT okey, part FROM (
                SELECT okey, part,
                       row_number() OVER (PARTITION BY okey ORDER BY part)
                         AS rn
                FROM (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
                      FROM lineitem))
              WHERE rn <= $MaxBasket)
            SELECT pa, pb, n_orders
            FROM (SELECT x.part AS pa, y.part AS pb,
                         count(*) AS n_orders
                  FROM items x
                  JOIN items y
                    ON x.okey = y.okey AND x.part < y.part
                  GROUP BY pa, pb)
            ORDER BY n_orders DESC, pa, pb LIMIT 20"""))

  /** Item-item collaborative filtering (cosine over co-purchase
    * vectors) — the RECOMMENDER reading of the basket data
    * q_basket_pairs counts raw: each part's vector is its basket
    * membership, cosine(a,b) = co(a,b)/√(n_a·n_b), so a pair of niche
    * parts that always co-occur outranks a popular pair that co-occurs
    * by volume (the normalization IS the operator — raw co-occurrence
    * is popularity-biased). Same capped a<b self-join as
    * q_basket_pairs ([[MaxBasket]] guard); item supports come from the
    * SAME items relation; both support joins are SHUFFLE_HASH-hinted —
    * the pair aggregate's static estimate is tiny and Catalyst would
    * otherwise broadcast the O(parts) side (§7.6 standing fact 4).
    * co/n_a/n_b are exact ints, cosine is one shared IEEE expression,
    * top-20 under the (cosine DESC, pa, pb) total order. Scale: fanout
    * is quadratic only in basket size; supports are O(|part|) —
    * everything shuffles on item keys, nothing collects.
    */
  val qRecItemCosine = Q(
    "q_rec_item_cosine",
    (s, dir) => {
      // r21: pairs and supports both explode map-side off the shared
      // basketArrays frame (one okey aggregate, ReusedExchange across
      // the two consumers) — the items distinct + window exchanges and
      // the okey self-join are gone; see basketArrays.
      val bsk = basketArrays(s, dir)
      val support = bsk.select(explode(col("ps")).as("part"))
        .groupBy("part")
        .agg(count(lit(1)).as("n"))
      val co = bsk
        .select(explode(expr(basketPairsE)).as("p"))
        .select(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .groupBy("pa", "pb")
        .agg(count(lit(1)).as("co"))
      co
        .join(support.toDF("pa", "na").hint("shuffle_hash"), "pa")
        .join(support.toDF("pb", "nb").hint("shuffle_hash"), "pb")
        .select(col("pa"), col("pb"), col("co"), col("na"), col("nb"),
          expr("CAST(co AS DOUBLE)" +
            " / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))")
            .as("cosine"))
        .orderBy(col("cosine").desc, col("pa"), col("pb"))
        .limit(20)
    },
    Some(s"""WITH items AS (
              SELECT okey, part FROM (
                SELECT okey, part,
                       row_number() OVER (PARTITION BY okey ORDER BY part)
                         AS rn
                FROM (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
                      FROM lineitem))
              WHERE rn <= $MaxBasket),
             support AS (SELECT part, CAST(count(*) AS BIGINT) AS n
                         FROM items GROUP BY part),
             co AS (SELECT x.part AS pa, y.part AS pb,
                      CAST(count(*) AS BIGINT) AS co
                    FROM items x JOIN items y
                      ON x.okey = y.okey AND x.part < y.part
                    GROUP BY 1, 2)
            SELECT pa, pb, co, sa.n AS na, sb.n AS nb,
                   CAST(co AS DOUBLE)
                     / sqrt(CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE))
                     AS cosine
            FROM co JOIN support sa ON co.pa = sa.part
                    JOIN support sb ON co.pb = sb.part
            ORDER BY cosine DESC, pa, pb LIMIT 20"""))

  /** Largest-remainder proration — the exact-allocation operator every
    * billing/finance pipeline needs: split an order's total (whole cents)
    * across its line items proportionally to quantity so the allocated
    * cents SUM EXACTLY to the total (naive per-line rounding drifts by
    * ±n/2 cents; auditors notice). Base share = floor(total·qᵢ/Q) per
    * line; the leftover cents (total − Σbase < n_lines) go one each to
    * the largest remainders (total·qᵢ mod Q), tie-broken by line number —
    * fully integer arithmetic end-to-end, so the oracle is bit-exact.
    * Duplicate (orderkey, linenumber) rows in the synthetic lineitem are
    * pre-merged (quantity summed) so the remainder rank has a total
    * order. Scale: one shuffle on the order key serves the line merge,
    * both window sums and the remainder rank (HashPartitioning(okey)
    * satisfies all four); output is one row per line.
    */
  val qAllocProration = Q(
    "q_alloc_proration",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wOrd = Window.partitionBy("l_orderkey")
      val wRank = Window.partitionBy("l_orderkey")
        .orderBy(col("rem").desc, col("l_linenumber"))
      Tables.lineitem(s, dir)
        // ONE exchange on the order key serves everything downstream:
        // HashPartitioning(okey) satisfies the (okey, lineno) merge's
        // clustering, both window sums, the remainder rank AND the join
        // (plan-asserted) — without it the merge would shuffle on the
        // composite key and the window would re-shuffle on okey
        .repartition(col("l_orderkey"))
        .groupBy("l_orderkey", "l_linenumber")
        .agg(sum(col("l_quantity")
          .cast(org.apache.spark.sql.types.LongType)).as("q"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), Det.cents("o_totalprice").as("tot_c")),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("qsum", sum(col("q")).over(wOrd))
        .withColumn("base", expr("(tot_c * q) div qsum"))
        .withColumn("rem", expr("(tot_c * q) % qsum"))
        .withColumn("bsum", sum(col("base")).over(wOrd))
        .withColumn("rk", row_number().over(wRank))
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("base") + when(col("rk") <= col("tot_c") - col("bsum"),
            lit(1L)).otherwise(lit(0L))).as("alloc_cents"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some(s"""WITH li AS (SELECT l_orderkey, l_linenumber,
                    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
                  FROM lineitem GROUP BY 1, 2),
             o AS (SELECT o_orderkey, ${Det.sqlCents("o_totalprice")} AS tot_c
               FROM orders),
             j AS (SELECT li.*, o.tot_c,
                     CAST(SUM(q) OVER (PARTITION BY l_orderkey) AS BIGINT)
                       AS qsum
                   FROM li JOIN o ON l_orderkey = o_orderkey),
             b AS (SELECT *, (tot_c * q) // qsum AS base,
                          (tot_c * q) % qsum AS rem
                   FROM j),
             e AS (SELECT *,
                     CAST(SUM(base) OVER (PARTITION BY l_orderkey)
                       AS BIGINT) AS bsum,
                     row_number() OVER (PARTITION BY l_orderkey
                       ORDER BY rem DESC, l_linenumber) AS rk
                   FROM b)
            SELECT l_orderkey, l_linenumber,
                   CAST(base + CASE WHEN rk <= tot_c - bsum
                                    THEN 1 ELSE 0 END AS BIGINT)
                     AS alloc_cents
            FROM e ORDER BY l_orderkey, l_linenumber"""))

  /** Snapshot reconciliation — the table-diff operator behind CDC
    * backfills, migration validation and "what changed since yesterday"
    * audits: two keyed snapshots full-outer-joined on the key, each row
    * classified added / removed / changed / same, rolled up to a per-class
    * census with an exact-cents checksum (the evidence a reconciliation
    * report needs). Snapshot B is derived deterministically from the same
    * fact (new arrivals = post-cutoff orders, deletes = okey ≡ 0 mod 11,
    * updates = status rewritten for okey ≡ 0 mod 7) so the oracle sees
    * the identical construction. Scale: both sides partition on the join
    * key — in a real lakehouse both snapshots are bucketed by key, so the
    * SMJ is exchange-free; the census is a bounded 4-key aggregate with
    * map-side combine. The classify step is one projection over the
    * joined row — no second pass, no driver-side diffing.
    */
  val qSnapshotDiff = Q(
    "q_snapshot_diff",
    (s, dir) => {
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderdate"), Det.cents("o_totalprice").as("c"))
      val snapA = base
        .where(col("o_orderdate") < lit("1997-01-01"))
        .select(col("o_orderkey"), col("o_orderstatus").as("a_status"),
          col("c").as("a_c"))
      val snapB = base
        .where(col("o_orderkey") % 11 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 7 === 0, lit("P"))
            .otherwise(col("o_orderstatus")).as("b_status"),
          col("c").as("b_c"))
      snapA.join(snapB, Seq("o_orderkey"), "full_outer")
        .select(
          when(col("a_status").isNull, lit("added"))
            .when(col("b_status").isNull, lit("removed"))
            .when(col("a_status") =!= col("b_status"), lit("changed"))
            .otherwise(lit("same")).as("change_type"),
          coalesce(col("b_c"), col("a_c")).as("c"))
        .groupBy("change_type")
        .agg(count(lit(1)).as("n"),
          sum(col("c").cast(Det.Dec0))
            .cast(org.apache.spark.sql.types.LongType).as("cents_sum"))
        .orderBy("change_type")
    },
    Some(s"""WITH base AS (SELECT o_orderkey, o_orderstatus, o_orderdate,
                    ${Det.sqlCents("o_totalprice")} AS c
                  FROM orders),
             a AS (SELECT o_orderkey, o_orderstatus AS a_status,
                          c AS a_c
                   FROM base
                   WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
             b AS (SELECT o_orderkey,
                          CASE WHEN o_orderkey % 7 = 0 THEN 'P'
                               ELSE o_orderstatus END AS b_status,
                          c AS b_c
                   FROM base WHERE o_orderkey % 11 <> 0),
             d AS (SELECT CASE WHEN a_status IS NULL THEN 'added'
                               WHEN b_status IS NULL THEN 'removed'
                               WHEN a_status <> b_status THEN 'changed'
                               ELSE 'same' END AS change_type,
                          COALESCE(b_c, a_c) AS c
                   FROM a FULL OUTER JOIN b USING (o_orderkey))
            SELECT change_type, count(*) AS n,
                   CAST(SUM(CAST(c AS DECIMAL(38,0))) AS BIGINT)
                     AS cents_sum
            FROM d GROUP BY change_type ORDER BY change_type"""))

  /** Referential-integrity audit — the FK orphan census a DQ gate runs
    * after every load (and after partial deletes, the scenario staged
    * here: the parent is PRUNED mod-13 so the check demonstrably counts
    * real orphans instead of vacuously reporting zero): one row per
    * relationship with child volume, orphan count and the smallest
    * orphaned key (the triage pointer). Each relationship is a LEFT ANTI
    * join — at 100 TB these are shuffle-partitioned on the FK and the
    * builtin DPP/broadcast kicks in for small parents; the census is a
    * 3-row union. Exact integers end-to-end.
    */
  val qDqReferential = Q(
    "q_dq_referential",
    (s, dir) => {
      val prunedOrders = Tables.orders(s, dir)
        .where(col("o_orderkey") % 13 =!= 0).select("o_orderkey")
      val prunedCust = Tables.customer(s, dir)
        .where(col("c_custkey") % 13 =!= 0).select("c_custkey")
      val li = Tables.lineitem(s, dir)
      val one = (name: String, child: DataFrame, key: String,
                 parent: DataFrame, pkey: String) => {
        val orphans = child
          .join(parent, child(key) === parent(pkey), "left_anti")
        child.agg(count(lit(1)).as("n_child"))
          .crossJoin(orphans.agg(count(lit(1)).as("n_orphans"),
            min(col(key)).as("min_orphan_key")))
          .select(lit(name).as("relationship"), col("n_child"),
            col("n_orphans"), col("min_orphan_key"))
      }
      one("lineitem.l_orderkey->orders", li.select("l_orderkey"),
          "l_orderkey", prunedOrders, "o_orderkey")
        .union(one("orders.o_custkey->customer",
          Tables.orders(s, dir).select("o_custkey"), "o_custkey",
          prunedCust, "c_custkey"))
        .union(one("lineitem.l_partkey->part",
          li.select("l_partkey"), "l_partkey",
          Tables.part(s, dir).select("p_partkey"), "p_partkey"))
        .orderBy("relationship")
    },
    Some("""WITH po AS (SELECT o_orderkey FROM orders
                        WHERE o_orderkey % 13 <> 0),
             pc AS (SELECT c_custkey FROM customer
                    WHERE c_custkey % 13 <> 0),
             r1 AS (SELECT 'lineitem.l_orderkey->orders' AS relationship,
                      (SELECT count(*) FROM lineitem) AS n_child,
                      count(*) AS n_orphans,
                      min(l_orderkey) AS min_orphan_key
                    FROM lineitem
                    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM po)),
             r2 AS (SELECT 'orders.o_custkey->customer',
                      (SELECT count(*) FROM orders),
                      count(*), min(o_custkey)
                    FROM orders
                    WHERE o_custkey NOT IN (SELECT c_custkey FROM pc)),
             r3 AS (SELECT 'lineitem.l_partkey->part',
                      (SELECT count(*) FROM lineitem),
                      count(*), min(l_partkey)
                    FROM lineitem
                    WHERE l_partkey NOT IN
                      (SELECT p_partkey FROM part))
            SELECT * FROM r1 UNION ALL SELECT * FROM r2
            UNION ALL SELECT * FROM r3 ORDER BY relationship"""))

  /** Bloom-prefiltered fact⋈dim join — the RUNTIME-FILTER pattern for the
    * regime where the dim's key set is too large to broadcast as a hash
    * join but a fixed-size bitset summary of it is not: build a 2^18-bit
    * / k=3 Bloom filter over the filtered dim keys as ≤4096 (word, mask)
    * rows via ONE bounded aggregate, broadcast it, and pre-filter the
    * fact side with pure bitwise column ops (xxhash64 positions, shiftleft
    * bit tests — all codegen) BEFORE the shuffle join. The exact join then
    * eliminates Bloom false positives, so the result is identical to the
    * plain join — the filter only cuts the fact side's shuffle volume (to
    * ~p + (1−p)·fpp of rows; fpp ≈ (1−e^(−kn/m))^k ≈ 0.03 at n=3·10⁴).
    * This is Spark's own injected-runtime-bloom-filter idea expressed as
    * an explicit operator the pipeline controls: at 100 TB the dim side's
    * keys (say 10⁹ urgent orders) can never broadcast, but the 32 KB word
    * table always can. The final join is pinned SHUFFLE-merge to model
    * exactly that regime (a broadcastable dim would make the Bloom moot).
    * Oracle = the plain join (no Bloom replication needed: no false
    * negatives by construction, false positives provably removed).
    */
  /** The Bloom-passed fact rows (exposed for the R12b spec's selectivity
    * and no-false-negative pins; see qJoinBloomPrefilter for doctrine).
    */
  def bloomPrefilteredLines(s: SparkSession, dir: String): DataFrame = {
    val mBits = 262144L // 2^18 bits -> <=4096 longs ~ 32 KB broadcast
    val keys = Tables.orders(s, dir)
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    def bpos(seed: Int, key: org.apache.spark.sql.Column) =
      pmod(xxhash64(lit(seed), key), lit(mBits))
    val bloom = keys
      .select(explode(array(
        (0 until 3).map(sd => bpos(sd, col("o_orderkey"))): _*)).as("p"))
      .select((col("p") / 64).cast("int").as("word"),
        (col("p") % 64).cast("int").as("bit"))
      .groupBy("word")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").as("mask"))
    var probed = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    for (i <- 0 until 3) {
      val b = bloom.select(col("word").as(s"w$i"), col("mask").as(s"m$i"))
      probed = probed
        .withColumn(s"p$i", bpos(i, col("l_orderkey")))
        .join(broadcast(b),
          (col(s"p$i") / 64).cast("int") === col(s"w$i"), "left")
    }
    probed.where((0 until 3).map { i =>
      col(s"m$i").isNotNull && (col(s"m$i")
        .bitwiseAND(expr(s"shiftleft(CAST(1 AS BIGINT), " +
          s"CAST(p$i % 64 AS INT))")) =!= lit(0L))
    }.reduce(_ && _))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
  }

  val qJoinBloomPrefilter = Q(
    "q_join_bloom_prefilter",
    (s, dir) => {
      val urgent = Tables.orders(s, dir)
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      bloomPrefilteredLines(s, dir)
        .join(urgent.hint("shuffle_merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(date_trunc("month", col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("n_lines"),
          Det.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
        .orderBy("m")
    },
    Some(s"""SELECT date_trunc('month', o_orderdate) AS m,
                    count(*) AS n_lines,
                    ${Det.sqlSum("l_extendedprice * (1 - l_discount)")}
                      AS revenue
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             WHERE o_orderpriority = '1-URGENT'
             GROUP BY 1 ORDER BY m"""))

  /** Point-in-time multi-FEATURE join — the feature-store operator (at
    * training-set build time every feature must be its value AS OF the
    * label event, or the model trains on the future — "PIT correctness"
    * is the defining property of a feature store; q_join_asof binds ONE
    * stream, a real feature store binds many): each purchase (the label
    * spine) picks up (a) the user's last click VALUE at-or-before the
    * purchase and (b) the user's cumulative view COUNT so far — BOTH
    * features from ONE tagged union + window pass (features tag-sort
    * before the label at equal ts, so exactly-simultaneous features are
    * visible — the as-of inclusion contract), i.e. one user_id exchange
    * TOTAL regardless of feature count. The leakage-free property is
    * the construction: a preceding frame cannot see rows after the
    * label.
    */
  val qJoinPitFeatures = Q(
    "q_join_pit_features",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("value").as("click_val"), lit(0L).as("is_view"),
          lit(0).as("tag"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"),
          lit(null).cast("double").as("click_val"), lit(1L).as("is_view"),
          lit(0).as("tag"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          lit(null).cast("double").as("click_val"), lit(0L).as("is_view"),
          lit(1).as("tag"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("tag"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(views).unionByName(purchases)
        .withColumn("f_click_val",
          last(col("click_val"), ignoreNulls = true).over(w))
        .withColumn("f_views_so_far", sum(col("is_view")).over(w))
        .where(col("tag") === 1)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("f_click_val"), col("f_views_so_far"))
        .orderBy("event_id")
    },
    Some("""WITH u AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN event_type = 'click' THEN value END
                       AS click_val,
                     CASE WHEN event_type = 'view' THEN 1 ELSE 0 END
                       AS is_view,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                       AS tag
              FROM events
              WHERE event_type IN ('click', 'view', 'purchase')),
             f AS (SELECT event_id, user_id, ts, tag,
                     last_value(click_val IGNORE NULLS) OVER w
                       AS f_click_val,
                     CAST(sum(is_view) OVER w AS BIGINT) AS f_views_so_far
                   FROM u
                   WINDOW w AS (PARTITION BY user_id
                     ORDER BY ts, tag, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            SELECT event_id, user_id, ts, f_click_val, f_views_so_far
            FROM f WHERE tag = 1 ORDER BY event_id"""))

  /** Deletion-cascade audit (right-to-be-forgotten) — the compliance
    * operator every data platform runs before a GDPR/CCPA erasure batch
    * (how many rows does this delete-set touch, across every table that
    * references it, INCLUDING transitive references?): a deterministic
    * delete-set of customers (custkey ≡ 0 mod 97) cascades customer →
    * orders (FK custkey) → lineitem (FK orderkey — the 2-hop edge where
    * naive per-table filters silently miss rows, since lineitem never
    * mentions custkey), and events by the matching user ids. Census per
    * table: total, affected, remaining — the erasure work order and its
    * post-delete verification in one result. Scale: each hop is a
    * semi-join on the FK (broadcastable delete-set at any realistic
    * erasure batch size); counts are map-side combinable.
    */
  val qDqDeleteCascade = Q(
    "q_dq_delete_cascade",
    (s, dir) => {
      val delCust = Tables.customer(s, dir)
        .where(pmod(col("c_custkey"), lit(97)) === 0)
        .select(col("c_custkey"))
      val delOrders = Tables.orders(s, dir)
        .join(broadcast(delCust), col("o_custkey") === col("c_custkey"),
          "left_semi")
        .select(col("o_orderkey"))
      def census(table: String, df: DataFrame,
                 affected: DataFrame): DataFrame = {
        val t = df.agg(count(lit(1)).as("n_total"))
        val a = affected.agg(count(lit(1)).as("n_affected"))
        t.crossJoin(broadcast(a))
          .select(lit(table).as("table_name"), col("n_total"),
            col("n_affected"),
            (col("n_total") - col("n_affected")).as("n_remaining"))
      }
      val cust = Tables.customer(s, dir)
      val ords = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      val evs = Tables.events(s, dir)
      Seq(
        census("customer", cust,
          cust.where(pmod(col("c_custkey"), lit(97)) === 0)),
        census("orders", ords,
          ords.join(broadcast(delCust),
            col("o_custkey") === col("c_custkey"), "left_semi")),
        // SHUFFLE_HASH, not broadcast: delOrders is a 1/97 slice of the
        // ORDERS fact — it grows with the corpus (r15 broadcast lint:
        // 24 rows at sf0.001 -> 158 at sf0.01 -> ~1e9 at 100 TB),
        // exactly the r11 OOM class. The slice is still the smaller
        // side, so it hash-builds per partition.
        census("lineitem", li,
          li.join(delOrders.hint("shuffle_hash"),
            col("l_orderkey") === col("o_orderkey"), "left_semi")),
        census("events", evs,
          evs.where(pmod(col("user_id"), lit(97)) === 0)))
        .reduce(_ unionByName _)
        .orderBy("table_name")
    },
    Some("""WITH delc AS (SELECT c_custkey FROM customer
                  WHERE c_custkey % 97 = 0),
             delo AS (SELECT o_orderkey FROM orders
                  WHERE o_custkey IN (SELECT c_custkey FROM delc))
            SELECT * FROM (
              SELECT 'customer' AS table_name,
                     (SELECT count(*) FROM customer) AS n_total,
                     (SELECT count(*) FROM delc) AS n_affected,
                     (SELECT count(*) FROM customer)
                       - (SELECT count(*) FROM delc) AS n_remaining
              UNION ALL
              SELECT 'orders', (SELECT count(*) FROM orders),
                     (SELECT count(*) FROM delo),
                     (SELECT count(*) FROM orders)
                       - (SELECT count(*) FROM delo)
              UNION ALL
              SELECT 'lineitem', (SELECT count(*) FROM lineitem),
                     (SELECT count(*) FROM lineitem
                      WHERE l_orderkey IN
                        (SELECT o_orderkey FROM delo)),
                     (SELECT count(*) FROM lineitem)
                       - (SELECT count(*) FROM lineitem
                          WHERE l_orderkey IN
                            (SELECT o_orderkey FROM delo))
              UNION ALL
              SELECT 'events', (SELECT count(*) FROM events),
                     (SELECT count(*) FROM events
                      WHERE user_id % 97 = 0),
                     (SELECT count(*) FROM events)
                       - (SELECT count(*) FROM events
                          WHERE user_id % 97 = 0))
            ORDER BY table_name"""))

  /** k-core decomposition (fixed k=25, 4 synchronous peels) — the graph
    * DENSITY filter (degree counts popularity, pagerank counts
    * influence; the k-core keeps only nodes embedded in a subgraph
    * where EVERYONE has ≥ k neighbors — the standard spam/bot/noise
    * peel before community analysis): each peel drops nodes whose
    * CURRENT degree (within the surviving subgraph) is < k, exactly the
    * textbook iterated-peeling semantics, unrolled to 4 synchronous
    * rounds (the fixed-round SNAPSHOT contract of label_prop — fully
    * oracle-checkable; convergence-to-fixpoint is the same loop with a
    * liveness probe, per the Graph.cc driver-loop doctrine). Output is
    * the survivor census per peel round — the shrinking curve IS the
    * density readout (on this bipartite fixture the peel converges in
    * ONE round — supplier hubs anchor every surviving part's degree —
    * and the flat tail is the visible fixpoint proof). Scale (r12
    * verdict #4 — DELTA peeling): round-1 degrees are READ from the
    * bucketed degree store pagerank/sssp already maintain (the old
    * shape recomputed them with a double semi-join), and each later
    * round updates degrees INCREMENTALLY — deg_r(v) = deg_{r-1}(v) −
    * |edges v→(nodes removed in round r−1)| — via ONE join of the
    * bucketed edge store against the just-removed set (exchange-free
    * on the edge side; und is symmetric, so removed-src edges joined
    * bucket-locally give per-dst losses) + one aggregate over ONLY the
    * incident-edge subset, which shrinks monotonically. The full node
    * set is never re-joined twice per round.
    */
  val qGraphKcore = Q(
    "q_graph_kcore",
    (s, dir) => {
      val k = 25
      val und = graphUnd(s, dir)
      // Deliberately UNPINNED (r19 A/B, /tmp/ab_graph.scala protocol in
      // BASELINE.md): the dbscan/hits checkpoint-fusion pattern was
      // tried here — lazy-pinned deg_r + a one-shuffle union+groupBy
      // delta — and measured 2.05 s min vs 1.49 s for THIS spelling in
      // the same JVM, alternating. The census branches' replay that
      // motivated the pin is already deduplicated by ReusedExchange
      // inside the single plan (the branches share every exchange
      // subtree), while pins pay cache write+read AND hide those
      // exchanges from reuse. Keep the one declarative plan; Catalyst
      // wins this one.
      var deg = graphDeg(s, dir) // deg over ALL nodes = round-1 degrees
      val censusParts = scala.collection.mutable.ArrayBuffer[DataFrame]()
      censusParts += deg.agg(lit(0).as("round"),
        count(lit(1)).as("n_nodes"))
      for (r <- 1 to 4) {
        val surv = deg.where(col("deg") >= k)
        censusParts += surv.agg(lit(r).as("round"),
          count(lit(1)).as("n_nodes"))
        if (r < 4) {
          val gone = deg.where(col("deg") < k)
            .select(col("src").as("gone"))
          val loss = und.join(gone, col("src") === col("gone"))
            .groupBy(col("dst")).agg(count(lit(1)).as("lost"))
            .select(col("dst").as("lnode"), col("lost"))
          deg = surv.select(col("src"), col("deg"))
            .join(loss, col("src") === col("lnode"), "left")
            .select(col("src"),
              (col("deg") - coalesce(col("lost"), lit(0L))).as("deg"))
        }
      }
      censusParts.reduce(_ unionByName _)
        .select(col("round"), coalesce(col("n_nodes"), lit(0L))
          .as("n_nodes"))
        .orderBy("round")
    },
    Some {
      val peels = (1 to 4).map { r =>
        val prev = if (r == 1) "n0" else s"n${r - 1}"
        s"""n$r AS (SELECT src AS node FROM (
                 SELECT u.src, count(*) AS deg FROM und u
                 JOIN $prev a ON u.src = a.node
                 JOIN $prev b ON u.dst = b.node
                 GROUP BY u.src)
               WHERE deg >= 25)"""
      }.mkString(",\n             ")
      s"""WITH e AS (SELECT DISTINCT l_partkey * 2 AS a,
                    l_suppkey * 2 + 1 AS b FROM lineitem),
             und AS (SELECT a AS src, b AS dst FROM e
                     UNION ALL SELECT b, a FROM e),
             n0 AS (SELECT DISTINCT src AS node FROM und),
             $peels
            SELECT * FROM (
              SELECT 0 AS round, count(*) AS n_nodes FROM n0
              UNION ALL SELECT 1, count(*) FROM n1
              UNION ALL SELECT 2, count(*) FROM n2
              UNION ALL SELECT 3, count(*) FROM n3
              UNION ALL SELECT 4, count(*) FROM n4)
            ORDER BY round"""
    })

  /** Banded theta join WITHOUT an equi key — the bucket-expansion trick
    * that keeps a pure band predicate (|x − y| ≤ w) out of
    * nested-loop/cartesian territory (every other range join in the
    * suite rides an equi component; when there is none, THIS is the
    * standard rewrite): each probe row lands in bucket ⌊v/w⌋ and the
    * build side replicates into {b−1, b, b+1}, so the band match is an
    * EQUI join on the bucket key + a residual integer filter — hash
    * join, map-side prunable, ×3 replication of the SMALL side only.
    * Every matching pair meets exactly once (the probe's single bucket
    * is covered by exactly one of the build row's three), so no dedup
    * pass. Values ride exact integer cents with a +2·10⁷ shift before
    * the integer division (Spark's DIV truncates toward zero, DuckDB's
    * // floors — negatives would disagree; non-negative operands make
    * them identical). Oracle = the plain quadratic theta join.
    */
  val qJoinRangeBucketed = Q(
    "q_join_range_bucketed",
    (s, dir) => {
      val W = 10000L // band half-width in cents (= $100)
      def cents(c: String) = expr(s"${Det.sqlCents(c)} + 20000000")
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"), cents("c_acctbal").as("cc"))
        .withColumn("b", expr(s"cc DIV $W"))
      val sup = Tables.supplier(s, dir)
        .select(col("s_suppkey"), col("s_nationkey"),
          cents("s_acctbal").as("sc"))
        .withColumn("b0", expr(s"sc DIV $W"))
        .select(col("s_suppkey"), col("s_nationkey"), col("sc"),
          explode(array(col("b0") - 1, col("b0"), col("b0") + 1)).as("b"))
      cust.join(broadcast(sup), Seq("b"))
        .where(abs(col("cc") - col("sc")) <= lit(W))
        .groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("c_custkey")).as("n_customers"))
        .orderBy("s_nationkey")
    },
    Some(s"""SELECT s_nationkey, count(*) AS n_pairs,
                   count(DISTINCT c_custkey) AS n_customers
            FROM customer JOIN supplier
              ON abs((${Det.sqlCents("c_acctbal")} + 20000000)
                 - (${Det.sqlCents("s_acctbal")} + 20000000))
                 <= 10000
            GROUP BY s_nationkey ORDER BY s_nationkey"""))

  /** NEAREST as-of join — completes the as-of family's third direction
    * (backward = latest at-or-before, forward = earliest after, THIS =
    * whichever is closer in absolute time; the sensor-alignment /
    * closest-quote semantics): each purchase binds the user's nearest
    * click. ONE union+window pass computes BOTH directional candidates
    * (backward: `last(ignoreNulls)` over the preceding frame, tag order
    * admitting the simultaneous click; forward: `first(ignoreNulls)`
    * over the following frame, which that same tag order keeps from
    * double-counting the simultaneous click), then the pick is a pure
    * CASE on the two integer-microsecond gaps — tie → backward, so an
    * exactly-simultaneous click (gap 0) always resolves backward, which
    * is also why the oracle's equality-inclusive forward ASOF cannot
    * diverge. Linear: one user_id exchange, no pairwise join.
    */
  val qJoinAsofNearest = Q(
    "q_join_asof_nearest",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("ts").as("c_ts"), lit(0).as("tag"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          lit(null).cast("timestamp").as("c_ts"), lit(1).as("tag"))
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("tag"), col("event_id"))
      val wb = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wf = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      clicks.unionByName(purchases)
        .withColumn("back_ts", last(col("c_ts"), ignoreNulls = true).over(wb))
        .withColumn("fwd_ts", first(col("c_ts"), ignoreNulls = true).over(wf))
        .where(col("tag") === 1)
        .withColumn("db", unix_micros(col("ts")) - unix_micros(col("back_ts")))
        .withColumn("df", unix_micros(col("fwd_ts")) - unix_micros(col("ts")))
        .select(col("event_id"), col("user_id"), col("ts"),
          expr("CASE WHEN back_ts IS NULL AND fwd_ts IS NULL THEN NULL " +
            "WHEN fwd_ts IS NULL THEN back_ts " +
            "WHEN back_ts IS NULL THEN fwd_ts " +
            "WHEN db <= df THEN back_ts ELSE fwd_ts END").as("nearest_ts"),
          expr("CASE WHEN back_ts IS NULL AND fwd_ts IS NULL THEN NULL " +
            "WHEN fwd_ts IS NULL THEN -db " +
            "WHEN back_ts IS NULL THEN df " +
            "WHEN db <= df THEN -db ELSE df END").as("delta_us"))
        .orderBy("event_id")
    },
    Some("""SELECT p.event_id, p.user_id, p.ts,
                   CASE WHEN b.ts IS NULL AND f.ts IS NULL THEN NULL
                        WHEN f.ts IS NULL THEN b.ts
                        WHEN b.ts IS NULL THEN f.ts
                        WHEN epoch_us(p.ts) - epoch_us(b.ts)
                          <= epoch_us(f.ts) - epoch_us(p.ts) THEN b.ts
                        ELSE f.ts END AS nearest_ts,
                   CASE WHEN b.ts IS NULL AND f.ts IS NULL THEN NULL
                        WHEN f.ts IS NULL
                          THEN -(epoch_us(p.ts) - epoch_us(b.ts))
                        WHEN b.ts IS NULL
                          THEN epoch_us(f.ts) - epoch_us(p.ts)
                        WHEN epoch_us(p.ts) - epoch_us(b.ts)
                          <= epoch_us(f.ts) - epoch_us(p.ts)
                          THEN -(epoch_us(p.ts) - epoch_us(b.ts))
                        ELSE epoch_us(f.ts) - epoch_us(p.ts)
                        END AS delta_us
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            ASOF LEFT JOIN
                 (SELECT * FROM events WHERE event_type = 'click') b
              ON p.user_id = b.user_id AND p.ts >= b.ts
            ASOF LEFT JOIN
                 (SELECT * FROM events WHERE event_type = 'click') f
              ON p.user_id = f.user_id AND p.ts <= f.ts
            ORDER BY p.event_id"""))

  /** Community detection via SYNCHRONOUS label propagation (2 rounds) —
    * the modularity-flavored member of the graph family (CC finds
    * connectivity, pagerank finds centrality; LP finds densely-linked
    * GROUPS): every node starts labeled with its own id, then each round
    * simultaneously adopts the most frequent label among its neighbors
    * (tie → smallest label — fully deterministic, unlike the textbook's
    * random tie-break, so the 2-round snapshot is oracle-checkable via
    * unrolled CTEs). Output = the top-50 community census. Semantics
    * note: sync LP on a bipartite graph oscillates rather than
    * converges — the operator is the fixed-round SNAPSHOT, stated as
    * such. Scale: per round, one equi-join of the label table against
    * the bucketed adjacency (edge side exchange-free) + two hash
    * aggregates; the per-node argmax is a struct max (map-side
    * combinable), never a per-node window.
    */
  val qGraphLabelProp = Q(
    "q_graph_label_prop",
    (s, dir) => {
      val und = graphUnd(s, dir)
      var labels = und.select(col("src").as("node")).distinct()
        .withColumn("lab", col("node"))
      for (_ <- 1 to 2) {
        labels = und
          .join(labels, col("dst") === col("node"))
          .groupBy(col("src"), col("lab"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("src"))
          .agg(max(struct(col("cnt"), (-col("lab")).as("nl"),
            col("lab"))).as("m"))
          .select(col("src").as("node"), col("m.lab").as("lab"))
      }
      labels.groupBy(col("lab").as("community"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("n_nodes").desc, col("community"))
        .limit(50)
    },
    Some("""WITH e AS (SELECT DISTINCT l_partkey * 2 AS a,
                    l_suppkey * 2 + 1 AS b FROM lineitem),
             und AS (SELECT a AS src, b AS dst FROM e
                     UNION ALL SELECT b, a FROM e),
             l0 AS (SELECT DISTINCT src AS node, src AS lab FROM und),
             n1 AS (SELECT u.src, l.lab, count(*) AS cnt
                    FROM und u JOIN l0 l ON u.dst = l.node
                    GROUP BY u.src, l.lab),
             l1 AS (SELECT src AS node, lab
                    FROM (SELECT src, lab, row_number() OVER (
                            PARTITION BY src ORDER BY cnt DESC, lab) AS rn
                          FROM n1) WHERE rn = 1),
             n2 AS (SELECT u.src, l.lab, count(*) AS cnt
                    FROM und u JOIN l1 l ON u.dst = l.node
                    GROUP BY u.src, l.lab),
             l2 AS (SELECT src AS node, lab
                    FROM (SELECT src, lab, row_number() OVER (
                            PARTITION BY src ORDER BY cnt DESC, lab) AS rn
                          FROM n2) WHERE rn = 1)
            SELECT lab AS community, count(*) AS n_nodes
            FROM l2 GROUP BY lab
            ORDER BY n_nodes DESC, community LIMIT 50"""))

  /** Adamic–Adar link prediction over the part↔supplier graph — the
    * classic shared-neighbor scoring behind "suppliers like yours" /
    * co-sourcing recommendations: for each same-side node pair, score =
    * Σ_{n ∈ common neighbors} 1/ln(deg(n)), discounting hub neighbors
    * logarithmically. Wedges are centered on the PART (even-id) side —
    * the low-degree side — because wedge fan-out is Σ deg(center)²:
    * ~1.4M wedge rows from part centers vs ~27M from supplier centers at
    * sf0.01 (measured), and at 100 TB centering on the bounded-degree
    * side is what keeps enumeration linear in edges × avg-degree instead
    * of quadratic in hub degree (for graphs with no low-degree side, cap
    * center degree and document the recall loss — the standard LSH-style
    * trade). Centers with deg < 2 spawn no wedge (and ln(1) = 0 is a
    * division pole) so the degree store filters them. Adjacency self-join
    * and the weight join both key on the bucketed store's src — exchange-
    * free; the only shuffle is the (a,b) pair aggregation. Determinism:
    * ln is bit-identical across JVM/glibc/DuckDB (q_text_entropy
    * doctrine) and 1/ln(d) is one correctly-rounded division, but the
    * term SUM is order-dependent → each term is Dec12-quantized and
    * summed exactly; top-20 ordered on the exact decimal score with an
    * (a, b) tiebreak. Same-side pairs are never adjacent in a bipartite
    * graph, so no existing-edge exclusion join is needed here (a general
    * graph adds one anti-join against the edge store).
    * THE SPILL POST-MORTEM (r19 #1 → r20 root cause, A/B'd in one JVM at
    * 30×): the rehearsal spill (9.1 GB at 10×/8 g, 641 MB at 30×/48 g)
    * was attributed to the (a, b) pair aggregate and r20 first shipped a
    * wedge-count-priced repartition of the pair exchange. The 30×
    * four-variant A/B disproved that attribution: the spill came from
    * the SORTS of the SortMergeJoin self-join — the bucketed store was
    * written with many files per bucket, so the scan could not trust
    * per-bucket sortedness and every consumer re-sorted the adjacency
    * (explicit repartition + SMJ: 641 MB spill; same plan with a
    * shuffle_hash self-join: 0 spill; plain groupBy either way). The fix
    * is structural and store-side: writeBucketed now aligns writers to
    * ONE FILE PER BUCKET, so the self-join and weight join are exchange-
    * free AND sort-free, and the explicit pair repartition — an extra
    * full exchange of the wedge stream that also forfeited map-side
    * combine (measured +0.3–0.4 GB shuffle at 30× for no spill benefit)
    * — is REMOVED: groupBy(a, b) plans its own AQE-sized exchange over
    * the already-fanned-out wedge bytes, which IS the pair mass (AQE
    * sizes the aggregate to fan-out by construction; the r19 "sized to
    * input bytes" objection applied to the sort's memory, not this
    * exchange). 30× validation: 0 spill, wall tracking the linear wedge
    * mass (8.7M → 262M wedges), hash unchanged. Hub-degree capping (the
    * basket-graph pattern) remains the lever if the degree distribution
    * is unbounded.
    */
  val qGraphAdamicAdar = Q(
    "q_graph_adamic_adar",
    (s, dir) => {
      // r22 (r21 verdict #7): the per-wedge weight rides the pair
      // aggregation as an 8-byte unscaled-long micro-unit (10⁻¹² units
      // of the SAME DECIMAL(38,12) value) instead of a 16-byte decimal
      // — sum(long) partials halve the sd column through the (a, b)
      // exchange, the query's only corpus-scaled shuffle. Exactness and
      // the overflow bound (documented in OPTIMIZATION_r22.md): each
      // term is the unscaled value of CAST(1/ln(deg) AS DECIMAL(38,12)),
      // ≤ ⌈10¹²/ln 2⌉ ≈ 1.443·10¹² (deg ≥ 2 by the store filter); the
      // per-pair term count n_common ≤ deg(supplier) ≤ parts-per-
      // supplier, which in this schema is scale-INVARIANT (TPC-H ships 4
      // suppliers per part: ~80 parts/supplier at every SF), so the sum
      // is ≤ ~10¹⁴·k — 2⁶³ overflows only past ~6.4 M common neighbors
      // per pair, 5 orders of magnitude above the schema's degree
      // ceiling. On another degree distribution an overflow is loud, not
      // a wrapped total: the session's ANSI pin (SparkEntry.localSession)
      // makes sum(long) raise ARITHMETIC_OVERFLOW (pinned by
      // EdgeCaseSpec). make_dec12 reconstructs the EXACT same
      // DECIMAL(38,12) (same unscaled value, same scale) the old
      // sum(decimal) produced, so ordering, ties and aa_score are
      // bit-identical.
      val und = graphUnd(s, dir)
      val w = graphDeg(s, dir)
        .where(pmod(col("src"), lit(2)) === 0 && col("deg") >= 2)
        .select(col("src").as("n"),
          expr("unscaled_dec(CAST(CAST(1.0 AS DOUBLE) " +
            "/ ln(CAST(deg AS DOUBLE)) AS DECIMAL(38,12)))").as("w"))
      val ctr = und.where(pmod(col("src"), lit(2)) === 0)
      ctr.select(col("src").as("n"), col("dst").as("a"))
        .join(ctr.select(col("src").as("n"), col("dst").as("b")), Seq("n"))
        .where(col("a") < col("b"))
        .join(w, Seq("n"))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("n_common"), sum(col("w")).as("sd_micro"))
        .withColumn("sd", expr("make_dec12(sd_micro)"))
        .orderBy(col("sd").desc, col("a"), col("b"))
        .limit(20)
        .select(col("a"), col("b"), col("n_common"),
          col("sd").cast("double").as("aa_score"))
    },
    Some("""WITH e AS (SELECT DISTINCT l_partkey * 2 AS a,
                    l_suppkey * 2 + 1 AS b FROM lineitem),
              und AS (SELECT a AS src, b AS dst FROM e
                      UNION ALL SELECT b, a FROM e),
              deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
              w AS (SELECT src AS n,
                      CAST(CAST(1.0 AS DOUBLE) / ln(CAST(deg AS DOUBLE))
                        AS DECIMAL(38,12)) AS w
                    FROM deg WHERE src % 2 = 0 AND deg >= 2),
              ctr AS (SELECT src AS n, dst FROM und WHERE src % 2 = 0),
              pr AS (SELECT c1.n, c1.dst AS a, c2.dst AS b
                     FROM ctr c1 JOIN ctr c2 ON c1.n = c2.n
                     WHERE c1.dst < c2.dst)
            SELECT a, b, count(*) AS n_common,
                   CAST(sum(w.w) AS DOUBLE) AS aa_score
            FROM pr JOIN w ON pr.n = w.n
            GROUP BY a, b
            ORDER BY sum(w.w) DESC, a, b LIMIT 20"""))

  /** JACCARD link prediction over the part↔supplier graph — the set-
    * overlap member of the shared-neighbor family next to
    * q_graph_adamic_adar's hub-discounted scoring: J(a,b) =
    * |N(a)∩N(b)| / (deg(a)+deg(b)−|N(a)∩N(b)|). Wedges enumerate from
    * the low-degree (part) side exactly as adamic-adar does (Σ deg²
    * bound), so |∩| is the wedge count and the union re-derives from two
    * degree lookups — never a neighbor-set materialization. All-integer
    * until ONE shared-text division; candidate pairs tie-break on
    * (a, b) under the exact double (identical operands both engines).
    * The degree joins are SHUFFLE_HASH-hinted on the store side:
    * Catalyst's static estimate of the pair aggregate is tiny, so left
    * alone it would broadcast the O(pairs) side (the r11 OOM class).
    */
  val qGraphJaccard = Q(
    "q_graph_jaccard",
    (s, dir) => {
      val und = graphUnd(s, dir)
      val ctr = und.where(pmod(col("src"), lit(2)) === 0)
      val deg = graphDeg(s, dir)
        .where(pmod(col("src"), lit(2)) === 1)
        .select(col("src"), col("deg"))
      ctr.select(col("src").as("n"), col("dst").as("a"))
        .join(ctr.select(col("src").as("n"), col("dst").as("b")), Seq("n"))
        .where(col("a") < col("b"))
        .groupBy("a", "b")
        .agg(count(lit(1)).as("n_common"))
        .join(deg.toDF("a", "da").hint("shuffle_hash"), "a")
        .join(deg.toDF("b", "db").hint("shuffle_hash"), "b")
        .select(col("a"), col("b"), col("n_common"),
          (col("da") + col("db") - col("n_common")).as("uni"),
          expr("CAST(n_common AS DOUBLE) " +
            "/ CAST(da + db - n_common AS DOUBLE)").as("jaccard"))
        .orderBy(col("jaccard").desc, col("a"), col("b"))
        .limit(20)
    },
    Some("""WITH e AS (SELECT DISTINCT l_partkey * 2 AS a,
                    l_suppkey * 2 + 1 AS b FROM lineitem),
              und AS (SELECT a AS src, b AS dst FROM e
                      UNION ALL SELECT b, a FROM e),
              deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
              ctr AS (SELECT src AS n, dst FROM und WHERE src % 2 = 0),
              pr AS (SELECT c1.dst AS a, c2.dst AS b,
                       count(*) AS n_common
                     FROM ctr c1 JOIN ctr c2 ON c1.n = c2.n
                     WHERE c1.dst < c2.dst GROUP BY 1, 2)
            SELECT pr.a, pr.b, n_common,
                   da.deg + db.deg - n_common AS uni,
                   CAST(n_common AS DOUBLE)
                     / CAST(da.deg + db.deg - n_common AS DOUBLE)
                     AS jaccard
            FROM pr JOIN deg da ON pr.a = da.src
                    JOIN deg db ON pr.b = db.src
            ORDER BY jaccard DESC, a, b LIMIT 20"""))

  /** HITS hubs & authorities (Kleinberg's public formulation) on the
    * DIRECTED part→supplier graph — the bipartite mutual-reinforcement
    * ranking next to q_graph_pagerank's random-walk one: auth(b) =
    * Σ_{a→b} hub(a), hub(a) = Σ_{a→b} auth(b), two full iterations from
    * hub₀ ≡ 1. The doctrinal trick: normalization does not change HITS
    * ORDER, so the iteration runs UNNORMALIZED — every hub/auth value
    * stays an exact BIGINT (sums of sums of integer degrees; bounded by
    * edges·maxdeg³ ≪ 2⁶³ here, re-derive the bound before raising
    * iters) — and the single L1 normalization happens once at the end
    * as one shared-text division per row. Zero float accumulation
    * anywhere. Scale: each half-step is one join + one aggregate on the
    * bucketed edge store (the pagerank shape); top-20 per side via two
    * distributed top-k sorts, not a 2-partition window.
    */
  val qGraphHits = Q(
    "q_graph_hits",
    (s, dir) => {
      // Both orientations of the DIRECTED part→supplier edge live in the
      // symmetric bucketed store: rows with even src are the forward
      // edges (part→supp), rows with odd src are exactly their reverses
      // (supp→part). Every half-step joins on whichever orientation puts
      // the join key in the BUCKET column, so the edge table is never
      // exchanged — only the node-sized score tables shuffle (one
      // groupBy per half-step). r18 shipped the src-side-only spelling:
      // each dst-keyed half-step exchanged the full edge set (and the
      // r19 checkpoint boundary killed the ReusedExchange that used to
      // dedupe those), 359 tasks of replay on 1.7 MB of real data.
      val ed = graphUnd(s, dir)
        .where(pmod(col("src"), lit(2)) === 0)
      val edRev = graphUnd(s, dir)
        .where(pmod(col("src"), lit(2)) === 1)
      // auth₁(supp) = in-degree — a bucket-local agg on the reverse rows
      val a1 = edRev.groupBy("src")
        .agg(count(lit(1)).cast("long").as("a"))
        .withColumnRenamed("src", "k")
      // hub₁(part) = Σ auth₁ over its supps: reverse rows join a1 on
      // their bucket column, one shuffle for the part-keyed sum
      val h1 = edRev.join(a1, col("src") === col("k"))
        .groupBy(col("dst")).agg(sum("a").as("h"))
        .withColumnRenamed("dst", "k")
      // LAZY-pin the two score tables each read by 2–3 downstream
      // branches (a2: the h2 half-step + its L1 mass + its top-k; h2:
      // its L1 mass + its top-k) — unpinned, every branch replayed the
      // whole a1→h1→a2 chain (r18 verdict #8). Lazy checkpoints
      // materialize inside the one final action (CC's doctrine).
      val a2 = ed.join(h1, col("src") === col("k"))
        .groupBy(col("dst")).agg(sum("h").as("a"))
        .withColumnRenamed("dst", "dstk")
        .localCheckpoint(false)
      val h2 = edRev.join(a2, col("src") === col("dstk"))
        .groupBy(col("dst")).agg(sum("a").as("h"))
        .withColumnRenamed("dst", "srck")
        .localCheckpoint(false)
      val na = a2.agg(sum(col("a")).as("na"))
      val nh = h2.agg(sum(col("h")).as("nh"))
      val topA = a2.orderBy(col("a").desc, col("dstk")).limit(20)
        .crossJoin(broadcast(na))
        .select(lit("auth").as("side"), col("dstk").as("node"),
          col("a").as("raw"),
          expr("CAST(a AS DOUBLE) / CAST(na AS DOUBLE)").as("score"))
      val topH = h2.orderBy(col("h").desc, col("srck")).limit(20)
        .crossJoin(broadcast(nh))
        .select(lit("hub").as("side"), col("srck").as("node"),
          col("h").as("raw"),
          expr("CAST(h AS DOUBLE) / CAST(nh AS DOUBLE)").as("score"))
      topA.unionAll(topH).orderBy(col("side"), col("raw").desc, col("node"))
    },
    Some("""WITH e AS (SELECT DISTINCT l_partkey * 2 AS src,
                    l_suppkey * 2 + 1 AS dst FROM lineitem),
              a1 AS (SELECT dst, CAST(count(*) AS BIGINT) AS a
                     FROM e GROUP BY dst),
              h1 AS (SELECT e.src, CAST(sum(a1.a) AS BIGINT) AS h
                     FROM e JOIN a1 ON e.dst = a1.dst GROUP BY e.src),
              a2 AS (SELECT e.dst, CAST(sum(h1.h) AS BIGINT) AS a
                     FROM e JOIN h1 ON e.src = h1.src GROUP BY e.dst),
              h2 AS (SELECT e.src, CAST(sum(a2.a) AS BIGINT) AS h
                     FROM e JOIN a2 ON e.dst = a2.dst GROUP BY e.src),
              na AS (SELECT CAST(sum(a) AS BIGINT) AS na FROM a2),
              nh AS (SELECT CAST(sum(h) AS BIGINT) AS nh FROM h2),
              ta AS (SELECT 'auth' AS side, dst AS node, a AS raw,
                       CAST(a AS DOUBLE) / CAST(na AS DOUBLE) AS score
                     FROM a2 CROSS JOIN na
                     ORDER BY a DESC, dst LIMIT 20),
              th AS (SELECT 'hub' AS side, src AS node, h AS raw,
                       CAST(h AS DOUBLE) / CAST(nh AS DOUBLE) AS score
                     FROM h2 CROSS JOIN nh
                     ORDER BY h DESC, src LIMIT 20)
            SELECT * FROM (SELECT * FROM ta UNION ALL SELECT * FROM th)
            ORDER BY side, raw DESC, node"""))

  /** Incremental materialized-view maintenance — update a per-priority
    * (count, revenue) aggregate over a TRAILING-two-year order window
    * when the as-of date advances six months, WITHOUT rescanning the
    * base window: inserts = orders that entered the new window's head,
    * retractions = orders that aged out of its tail, and count/sum are
    * self-maintainable under both (the additive-delta law Δview =
    * view ⊕ inserts ⊖ deletes that Delta/Iceberg MERGE-based MV
    * refresh relies on). The query carries BOTH paths — the maintained
    * view and the direct recompute of the new window — and emits their
    * per-group deltas plus an exact-match flag, so the oracle certifies
    * the maintenance algebra itself, not just one side. Scale: the
    * incremental path scans ONLY the two six-month delta slices (date
    * predicates push to the scan); the direct path exists here as the
    * in-plan certificate. All moments are exact integer cents. */
  val qViewIncremental = Q(
    "q_view_incremental",
    (s, dir) => {
      def agg(lo: String, hi: String) = Tables.orders(s, dir)
        .where(col("o_orderdate") >= lit(lo).cast("date")
          && col("o_orderdate") < lit(hi).cast("date"))
        .groupBy(col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("cnt"), sum(Det.cents("o_totalprice")).as("rev"))
      // view as of 1997-01-01: window [1995-01-01, 1997-01-01)
      val base = agg("1995-01-01", "1997-01-01")
      // advance to 1997-07-01: inserts [1997-01-01, 1997-07-01),
      // retractions [1995-01-01, 1995-07-01)
      val ins = agg("1997-01-01", "1997-07-01")
      val del = agg("1995-01-01", "1995-07-01")
      val incr = base.select(col("pri"), col("cnt"), col("rev"))
        .unionAll(ins.select(col("pri"), col("cnt"), col("rev")))
        .unionAll(del.select(col("pri"), -col("cnt"), -col("rev")))
        .groupBy("pri")
        .agg(sum(col("cnt")).as("cnt_incr"), sum(col("rev")).as("rev_incr"))
      val direct = agg("1995-07-01", "1997-07-01")
        .withColumnRenamed("cnt", "cnt_direct")
        .withColumnRenamed("rev", "rev_direct")
      incr.join(direct, Seq("pri"), "full_outer")
        .select(col("pri"),
          coalesce(col("cnt_incr"), lit(0L)).as("cnt_incr"),
          coalesce(col("rev_incr"), lit(0L)).as("rev_incr"),
          coalesce(col("cnt_direct"), lit(0L)).as("cnt_direct"),
          coalesce(col("rev_direct"), lit(0L)).as("rev_direct"))
        .withColumn("maintained_ok",
          (col("cnt_incr") === col("cnt_direct")
            && col("rev_incr") === col("rev_direct")).cast("int"))
        .orderBy("pri")
    },
    Some {
      def agg(lo: String, hi: String) =
        s"""SELECT o_orderpriority AS pri,
              CAST(count(*) AS BIGINT) AS cnt,
              CAST(sum(${Det.sqlCents("o_totalprice")}) AS BIGINT) AS rev
            FROM orders
            WHERE o_orderdate >= DATE '$lo' AND o_orderdate < DATE '$hi'
            GROUP BY 1"""
      s"""WITH base AS (${agg("1995-01-01", "1997-01-01")}),
              ins AS (${agg("1997-01-01", "1997-07-01")}),
              del AS (${agg("1995-01-01", "1995-07-01")}),
              incr AS (SELECT pri, CAST(sum(cnt) AS BIGINT) AS cnt_incr,
                         CAST(sum(rev) AS BIGINT) AS rev_incr
                       FROM (SELECT pri, cnt, rev FROM base
                             UNION ALL SELECT pri, cnt, rev FROM ins
                             UNION ALL SELECT pri, -cnt, -rev FROM del)
                       GROUP BY pri),
              direct AS (SELECT pri, cnt AS cnt_direct,
                           rev AS rev_direct
                         FROM (${agg("1995-07-01", "1997-07-01")})),
              j AS (SELECT coalesce(i.pri, d.pri) AS pri,
                      coalesce(cnt_incr, 0) AS cnt_incr,
                      coalesce(rev_incr, 0) AS rev_incr,
                      coalesce(cnt_direct, 0) AS cnt_direct,
                      coalesce(rev_direct, 0) AS rev_direct
                    FROM incr i FULL OUTER JOIN direct d
                      ON i.pri = d.pri)
            SELECT pri, cnt_incr, rev_incr, cnt_direct, rev_direct,
                   CAST(CASE WHEN cnt_incr = cnt_direct
                     AND rev_incr = rev_direct THEN 1 ELSE 0 END AS INT)
                     AS maintained_ok
            FROM j ORDER BY pri"""
    })

  /** Moran's I — GLOBAL spatial autocorrelation (the geo family reads
    * densities and containment; Moran's I answers "do nearby cells
    * look alike?" — the clustering-vs-noise one-number every spatial
    * analysis leads with; +1 clustered, 0 random, −1 checkerboard):
    * event points on the deterministic pHash32 unit square (the
    * geo_grid_join convention), 16×16 cells valued by mean event
    * cents, queen (8-neighbor) contiguity weights. I = (n/W)·
    * Σ_ij w_ij z_i z_j / Σz_i² over the CELL table — the corpus
    * collapses to ≤256 rows before any pairwise work, and the neighbor
    * join is an 8-offset explode on cell coordinates (bounded fanout,
    * never a cell×cell product). Cell means are shared divisions over
    * exact integer sums; z-products ride Dec12 order-free sums; finals
    * on the 1e-6 grid. */
  val qGeoMoranI = Q(
    "q_geo_moran_i",
    (s, dir) => {
      val pts = Tables.events(s, dir).select(
        Det.cents("value").as("v"),
        floor(pmod(Det.pHash32(concat(col("event_id").cast("string"),
          lit("x"))), lit(1024)).cast(DoubleType) / 1024.0 * 16)
          .cast(IntegerType).as("cx"),
        floor(pmod(Det.pHash32(concat(col("event_id").cast("string"),
          lit("y"))), lit(1024)).cast(DoubleType) / 1024.0 * 16)
          .cast(IntegerType).as("cy"))
      val cells = pts.groupBy("cx", "cy")
        .agg(count(lit(1)).as("c"), sum(col("v")).as("sv"))
        .withColumn("val", expr(
          "CAST(sv AS DOUBLE) / CAST(c AS DOUBLE)"))
      val tot = cells.agg(count(lit(1)).as("n"),
        sum(expr("CAST(val AS DECIMAL(38,12))")).cast(DoubleType)
          .as("svl"))
      val z = cells.crossJoin(broadcast(tot))
        .withColumn("z", expr("val - svl / CAST(n AS DOUBLE)"))
        .select("cx", "cy", "z", "n")
      val offs = s.range(0, 9)
        .select(expr("CAST(id % 3 - 1 AS INT)").as("dx"),
          expr("CAST(id div 3 - 1 AS INT)").as("dy"))
        .where(!(col("dx") === 0 && col("dy") === 0))
      val nb = z.crossJoin(broadcast(offs))
        .select((col("cx") + col("dx")).as("cx"),
          (col("cy") + col("dy")).as("cy"), col("z").as("zj"))
      val prod = z.join(nb, Seq("cx", "cy"))
        .agg(count(lit(1)).as("w"),
          sum(expr("CAST(z * zj AS DECIMAL(38,12))")).cast(DoubleType)
            .as("cross_sum"))
      val selfs = z.agg(max(col("n")).as("n"),
        sum(expr("CAST(z * z AS DECIMAL(38,12))")).cast(DoubleType)
          .as("z2"))
      prod.crossJoin(broadcast(selfs))
        .select(col("n"), col("w"),
          expr("CASE WHEN z2 = CAST(0 AS DOUBLE) OR w = 0 THEN NULL" +
            " ELSE round(CAST(n AS DOUBLE) / CAST(w AS DOUBLE)" +
            " * cross_sum / z2, 6) END").as("moran_i"),
          expr("round(CAST(-1 AS DOUBLE)" +
            " / CAST(n - 1 AS DOUBLE), 6)").as("expected_i"))
    },
    Some(s"""WITH pts AS (SELECT
                    ${Det.sqlCents("value")} AS v,
                    CAST(floor(CAST(((('0x' || substr(md5(
                      CAST(event_id AS VARCHAR) || 'x'), 1, 8))::BIGINT)
                      % 1024 + 1024) % 1024 AS DOUBLE)
                      / 1024.0 * 16) AS INT) AS cx,
                    CAST(floor(CAST(((('0x' || substr(md5(
                      CAST(event_id AS VARCHAR) || 'y'), 1, 8))::BIGINT)
                      % 1024 + 1024) % 1024 AS DOUBLE)
                      / 1024.0 * 16) AS INT) AS cy
                  FROM events),
             cells AS (SELECT cx, cy, CAST(count(*) AS BIGINT) AS c,
                         CAST(sum(v) AS BIGINT) AS sv
                       FROM pts GROUP BY 1, 2),
             cv AS (SELECT cx, cy,
                      CAST(sv AS DOUBLE) / CAST(c AS DOUBLE) AS val
                    FROM cells),
             tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(SUM(CAST(val AS DECIMAL(38,12))) AS DOUBLE)
                         AS svl
                     FROM cv),
             z AS (SELECT cx, cy,
                     val - svl / CAST(n AS DOUBLE) AS z, n
                   FROM cv, tot),
             offs AS (SELECT CAST(i % 3 - 1 AS INT) AS dx,
                        CAST(i // 3 - 1 AS INT) AS dy
                      FROM (SELECT unnest(range(0, 9)) AS i)
                      WHERE NOT (i % 3 - 1 = 0 AND i // 3 - 1 = 0)),
             nb AS (SELECT z.cx + dx AS cx, z.cy + dy AS cy,
                      z.z AS zj
                    FROM z CROSS JOIN offs),
             prod AS (SELECT CAST(count(*) AS BIGINT) AS w,
                        CAST(SUM(CAST(z.z * nb.zj AS DECIMAL(38,12)))
                          AS DOUBLE) AS cross_sum
                      FROM z JOIN nb ON z.cx = nb.cx AND z.cy = nb.cy),
             selfs AS (SELECT max(n) AS n,
                         CAST(SUM(CAST(z * z AS DECIMAL(38,12)))
                           AS DOUBLE) AS z2
                       FROM z)
            SELECT n, w,
                   CASE WHEN z2 = CAST(0 AS DOUBLE) OR w = 0 THEN NULL
                     ELSE round(CAST(n AS DOUBLE) / CAST(w AS DOUBLE)
                       * cross_sum / z2, 6) END AS moran_i,
                   round(CAST(-1 AS DOUBLE) / CAST(n - 1 AS DOUBLE), 6)
                     AS expected_i
            FROM prod, selfs"""))

  val all: Seq[Q] = Seq(
    qViewIncremental, qGeoMoranI,
    qSnapshotDiff, qDqReferential, qJoinBloomPrefilter, qGraphLabelProp,
    qGraphKcore, qGraphAdamicAdar, qGraphJaccard, qGraphHits,
    qScanFull, qScanPruned, qProjRename, qFilterRange, qFilterNullSentinel,
    qFilterInSubquery, qJoinInner, qJoinBroadcast, qJoinLeft, qJoinSemi,
    qJoinAnti, qJoinMultiwayStar, qJoinThetaSelf, qJoinSubstringParent,
    qJoinAsof, qJoinRange, qJoinLateral, qGeoGridJoin, qJoinFull, qJoinKnn,
    qMergeUpsert, qCdcApply, qGraphPagerank, qDqChecks, qCompositeShipping,
    qBasketPairs, qRecItemCosine, qFilterAboveAvg, qJoinRight,
    qHierarchyRollup,
    qGraphSssp, qAllocProration, qJoinAsofTolerance, qGraphDegreeHist,
    qJoinNullSafe, qJoinAsofForward, qJoinAsofNearest, qJoinRangeBucketed,
    qJoinPitFeatures, qDqDeleteCascade, qSqlWindowVerbatim)
}
