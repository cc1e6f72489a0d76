package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}
import graft.{Det, Q}
import graft.Det.{Dec0, Dec12}
import graft.sources.Tables

/** Round-11 analytics additions — SURVEY.md §2.S.
  *
  * Each query follows the §7.2 determinism doctrine (exact integers /
  * decimals until one shared-formula IEEE step; total orders everywhere a
  * rank or limit appears) and the §7.3 scale posture (two-phase
  * aggregates, broadcast only for by-construction-bounded sides,
  * group-key shuffles, bounded fan-outs).
  */
object Analytics {

  /** Interval-overlap self-join — the scheduling-conflict detector
    * (double-booked resources, overlapping service windows): each order
    * opens a service interval [orderdate, orderdate + (okey%7 + 1) days];
    * pairs of intervals of the SAME customer that overlap are conflicts,
    * rolled up per customer with total/max overlap days. Overlap length
    * is pure integer date arithmetic. Scale: ONE equi-join keyed on
    * custkey (never a time-cross-join); per-key fan-out is bounded by
    * orders-per-customer², the natural conflict-detection bound. For
    * unbounded keys the grid-cell decomposition of q_geo_grid_join
    * applies unchanged to the 1-D time axis.
    */
  val qJoinIntervalOverlap = Q(
    "q_join_interval_overlap",
    (s, dir) => {
      val o = Tables.orders(s, dir).select(
        col("o_custkey").as("ck"),
        col("o_orderkey").as("ok"),
        to_date(col("o_orderdate")).as("st"))
        .withColumn("en", date_add(col("st"),
          (col("ok") % 7 + 1).cast(IntegerType)))
      val a = o.select(col("ck"), col("ok").as("ak"),
        col("st").as("ast"), col("en").as("aen"))
      val b = o.select(col("ck"), col("ok").as("bk"),
        col("st").as("bst"), col("en").as("ben"))
      a.join(b, Seq("ck"))
        .where(col("ak") < col("bk") &&
          col("ast") <= col("ben") && col("bst") <= col("aen"))
        .select(col("ck"),
          (datediff(least(col("aen"), col("ben")),
            greatest(col("ast"), col("bst"))) + 1)
            .cast("long").as("ov")) // DuckDB date arithmetic is BIGINT
        .groupBy("ck")
        .agg(count(lit(1)).as("n_conflicts"),
          sum(col("ov")).as("total_overlap_days"),
          max(col("ov")).as("max_overlap_days"))
        .orderBy("ck")
    },
    Some("""WITH o AS (SELECT o_custkey AS ck, o_orderkey AS ok,
                    CAST(o_orderdate AS DATE) AS st,
                    CAST(o_orderdate AS DATE)
                      + CAST(o_orderkey % 7 + 1 AS INTEGER) AS en
                  FROM orders),
             p AS (SELECT a.ck,
                     (least(a.en, b.en) - greatest(a.st, b.st)) + 1 AS ov
                   FROM o a JOIN o b
                     ON a.ck = b.ck AND a.ok < b.ok
                        AND a.st <= b.en AND b.st <= a.en)
            SELECT ck, count(*) AS n_conflicts,
                   CAST(sum(ov) AS BIGINT) AS total_overlap_days,
                   max(ov) AS max_overlap_days
            FROM p GROUP BY ck ORDER BY ck"""))

  /** Hashing-trick featurization (the HashingVectorizer shape): every
    * token maps to a FIXED 256-dim bucket via the portable 60-bit hash —
    * the featurizer that needs no vocabulary pass, no broadcast dict and
    * no schema growth at 100 TB. Output = per-bucket census (occurrences,
    * distinct tokens = collision load, document frequency), the health
    * readout that sizes the hash dimension. All exact integers; the
    * bucket space is bounded by construction.
    */
  val qFeatureHashing = Q(
    "q_feature_hashing",
    (s, dir) => {
      val t = Llm.tokens(Tables.documents(s, dir))
        .withColumn("bucket", pmod(Det.pHash60(col("tok")), lit(256)))
      t.groupBy("bucket")
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("tok")).as("n_tokens"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("bucket")
    },
    Some(s"""WITH t AS (SELECT doc_id, tok
                  FROM (SELECT doc_id,
                          unnest(string_split(text, ' ')) AS tok
                        FROM documents)
                  WHERE tok <> ''),
             b AS (SELECT doc_id, tok,
                     ((${Det.sqlPHash60("tok")}) % 256 + 256) % 256
                       AS bucket
                   FROM t)
            SELECT bucket, count(*) AS n_occurrences,
                   count(DISTINCT tok) AS n_tokens,
                   count(DISTINCT doc_id) AS n_docs
            FROM b GROUP BY bucket ORDER BY bucket"""))

  /** kNN majority-vote classification over the embedding store — the
    * label-propagation / auto-labeling step of a curation pipeline
    * (classify unlabeled items by their nearest labeled neighbors):
    * 20 probes score against the corpus with the codegen vec_dot cosine,
    * keep the top-5 neighbors each (WindowGroupLimit — the exchange
    * carries O(probes·k)), majority label wins, ties to the smallest
    * label. Scale: probes broadcast (bounded by construction); scoring is
    * one codegen pass over the corpus; votes are O(probes·k).
    */
  val qKnnClassify = Q(
    "q_knn_classify",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .withColumn("ns", expr("vec_dot(embedding, embedding)"))
      val probes = emb.where(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("label").as("true_label"),
          col("embedding").as("pvec"), col("ns").as("pns"))
      // widenStream: 20 codegen dots per streamed row — the PlanLintSpec
      // dense-BNLJ rule (streamed-side partitions >= cores)
      val scored = graft.operators.Llm.widenStream(emb)
        .join(broadcast(probes), col("probe_id") =!= col("vec_id"))
        .withColumn("score", round(
          expr("vec_dot(pvec, embedding)") /
            (sqrt(col("pns")) * sqrt(col("ns"))), 6))
      val top = scored
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("probe_id"))
            .orderBy(col("score").desc, col("vec_id"))))
        .where(col("rk") <= 5)
      top.groupBy("probe_id", "true_label", "label")
        .agg(count(lit(1)).as("votes"))
        .withColumn("vr", row_number().over(
          Window.partitionBy(col("probe_id"))
            .orderBy(col("votes").desc, col("label"))))
        .where(col("vr") === 1)
        .select(col("probe_id"), col("true_label"),
          col("label").as("pred_label"), col("votes"))
        .orderBy("probe_id")
    },
    Some("""WITH sc AS (SELECT p.vec_id AS probe_id,
                    p.label AS true_label, e.vec_id, e.label,
                    round(list_cosine_similarity(
                      CAST(p.embedding AS DOUBLE[]),
                      CAST(e.embedding AS DOUBLE[])), 6) AS score
                  FROM embeddings p JOIN embeddings e
                    ON p.vec_id < 20 AND e.vec_id <> p.vec_id),
             top AS (SELECT * FROM (SELECT *,
                       row_number() OVER (PARTITION BY probe_id
                         ORDER BY score DESC, vec_id) AS rk
                     FROM sc) WHERE rk <= 5),
             v AS (SELECT probe_id, true_label, label,
                     count(*) AS votes
                   FROM top GROUP BY 1, 2, 3),
             best AS (SELECT *, row_number() OVER (PARTITION BY probe_id
                        ORDER BY votes DESC, label) AS vr
                      FROM v)
            SELECT probe_id, true_label, label AS pred_label, votes
            FROM best WHERE vr = 1 ORDER BY probe_id"""))

  // Mann-Kendall tau: one shared formula over the exact integer S and n
  private val mkTau = "CAST(s_stat AS DOUBLE) * CAST(2.0 AS DOUBLE) " +
    "/ (CAST(n_days AS DOUBLE) * CAST(n_days - 1 AS DOUBLE))"

  /** Mann-Kendall trend test — the NONPARAMETRIC monotone-trend detector
    * (is this metric drifting?) that needs no distribution assumption
    * and, unlike a least-squares slope, is ALL-INTEGER: S = Σ_{i<j}
    * sign(x_j − x_i) over the daily exact-cents revenue series per
    * return flag, with Kendall's tau = 2S/(n(n−1)) as the one IEEE step.
    * Scale: the pair space is O(days²) BY DESIGN over the
    * calendar-bounded daily rollup (the fact table reduces to O(days)
    * rows per flag first) — never O(corpus²).
    */
  val qTrendMannKendall = Q(
    "q_trend_mann_kendall",
    (s, dir) => {
      val daily = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag").as("flag"),
          to_date(col("o_orderdate")).as("d"))
        .agg(sum(Det.cents("l_extendedprice")).as("x"))
      val a = daily.select(col("flag"), col("d").as("di"), col("x").as("xi"))
      val b = daily.select(col("flag"), col("d").as("dj"), col("x").as("xj"))
      // broadcast the a-side: the daily rollup is CALENDAR-BOUNDED (the
      // broadcast-safe-by-construction class), so the O(days²) sign
      // fan-out distributes across the b-side's partitions instead of
      // serializing one task per flag (a 3-value join key clusters the
      // whole pair space onto 3 tasks otherwise)
      b.join(broadcast(a), Seq("flag"))
        .where(col("di") < col("dj"))
        .select(col("flag"),
          when(col("xj") > col("xi"), 1L)
            .when(col("xj") < col("xi"), -1L).otherwise(0L).as("sg"))
        .groupBy("flag")
        .agg(sum(col("sg")).as("s_stat"))
        .join(daily.groupBy("flag").agg(count(lit(1)).as("n_days")), "flag")
        .select(col("flag"), col("n_days"), col("s_stat"),
          expr(mkTau).as("tau"))
        .orderBy("flag")
    },
    Some(s"""WITH daily AS (SELECT l_returnflag AS flag,
                    CAST(o_orderdate AS DATE) AS d,
                    CAST(sum(${Det.sqlCents("l_extendedprice")}) AS BIGINT) AS x
                  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  GROUP BY 1, 2),
             p AS (SELECT a.flag,
                     CASE WHEN b.x > a.x THEN 1
                          WHEN b.x < a.x THEN -1 ELSE 0 END AS sg
                   FROM daily a JOIN daily b
                     ON a.flag = b.flag AND a.d < b.d),
             st AS (SELECT flag, CAST(sum(sg) AS BIGINT) AS s_stat
                    FROM p GROUP BY flag),
             nd AS (SELECT flag, count(*) AS n_days
                    FROM daily GROUP BY flag)
            SELECT st.flag, n_days, s_stat, $mkTau AS tau
            FROM st JOIN nd ON st.flag = nd.flag ORDER BY st.flag"""))

  /** Benjamini–Hochberg FDR correction — the MULTIPLE-TESTING layer the
    * inferential family needs the moment you run it per segment (25
    * nation-level tests at α=0.1 expect 2–3 false positives; BH is the
    * standard step-up that caps the false-discovery RATE): per nation, a
    * one-sample z of its customers' mean balance against the corpus
    * (exact integer-cent moments, shared z formula), two-sided p via the
    * Abramowitz–Stegun 26.2.17 polynomial Φ approximation — SHARED
    * formula text (|err| < 7.5e-8, far under decision scales; exp's
    * last-ulp split fenced by a round-10 on p), BH rank over the
    * nation-bounded hypothesis family (bounded — allowlisted), step-up
    * cutoff kmax = max rank with p ≤ rank·α/m — m is the OBSERVED
    * nation count, not a literal — via one bounded aggregate
    * broadcast back. Scale: one exact-moment aggregate per nation (ONE
    * customer-table pass), then O(25) arithmetic.
    */
  val qAggFdrBh = Q(
    "q_agg_fdr_bh",
    (s, dir) => {
      // A&S 26.2.17 upper-tail Q(z) for z >= 0, as shared text over `az`
      val phi = "exp(-(az * az) / 2.0) / sqrt(2.0 * pi())"
      val tt = "1.0 / (1.0 + 0.2316419 * az)"
      val qz = s"(($phi) * ((((((((1.330274429 * ($tt)) - 1.821255978) " +
        s"* ($tt)) + 1.781477937) * ($tt)) - 0.356563782) * ($tt)) " +
        s"+ 0.319381530) * ($tt))"
      val c = Tables.customer(s, dir)
        .select(col("c_nationkey").as("nation"),
          Det.cents("c_acctbal").as("c"))
      val per = c.groupBy("nation")
        .agg(count(lit(1)).as("n"),
          sum(col("c").cast(Dec0))
            .as("sc"))
      // m = the OBSERVED hypothesis count (ADVICE r12): the literal 25
      // silently ran BH against the wrong (larger) family when a small
      // scale factor covers fewer nations — conservative but mismatched
      // with the actual number of tests in both engines.
      val glob = c.agg(count(lit(1)).as("ng"),
        sum(col("c").cast(Dec0))
          .as("scg"),
        sum((col("c") * col("c"))
          .cast(Dec0)).as("sqg"),
        countDistinct(col("nation")).as("m"))
      val zp = per.crossJoin(broadcast(glob))
        .withColumn("z", expr(
          "(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) " +
            "- CAST(scg AS DOUBLE) / CAST(ng AS DOUBLE)) / " +
            "(sqrt((CAST(ng AS DOUBLE) * CAST(sqg AS DOUBLE) " +
            "- CAST(scg AS DOUBLE) * CAST(scg AS DOUBLE)) / " +
            "(CAST(ng AS DOUBLE) * CAST(ng AS DOUBLE))) " +
            "/ sqrt(CAST(n AS DOUBLE)))"))
        .withColumn("az", abs(col("z")))
        .withColumn("p", expr(s"round(2.0 * ($qz), 10)"))
      val ranked = zp.withColumn("rk", row_number().over(
        Window.orderBy(col("p"), col("nation"))))
        .withColumn("cond",
          when(col("p") <= col("rk").cast("double") * lit(0.1)
            / col("m").cast("double"), 1L)
            .otherwise(0L))
      val kmax = ranked.agg(
        max(col("cond") * col("rk")).as("kmax"))
      ranked.crossJoin(broadcast(kmax))
        .select(col("nation"), col("n"), col("z"), col("p"),
          col("rk").cast("long").as("rk"),
          (col("rk") <= col("kmax")).as("rejected"))
        .orderBy("rk", "nation")
    },
    Some {
      val phi = "exp(-(az * az) / 2.0) / sqrt(2.0 * pi())"
      val tt = "1.0 / (1.0 + 0.2316419 * az)"
      val qz = s"(($phi) * ((((((((1.330274429 * ($tt)) - 1.821255978) " +
        s"* ($tt)) + 1.781477937) * ($tt)) - 0.356563782) * ($tt)) " +
        s"+ 0.319381530) * ($tt))"
      s"""WITH c AS (SELECT c_nationkey AS nation,
                    ${Det.sqlCents("c_acctbal")} AS c
                  FROM customer),
             per AS (SELECT nation, count(*) AS n,
                    SUM(CAST(c AS DECIMAL(38,0))) AS sc
                  FROM c GROUP BY nation),
             gtot AS (SELECT count(*) AS ng,
                    SUM(CAST(c AS DECIMAL(38,0))) AS scg,
                    SUM(CAST(c * c AS DECIMAL(38,0))) AS sqg,
                    count(DISTINCT nation) AS m
                  FROM c),
             zp AS (SELECT nation, n, m,
                    (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE)
                      - CAST(scg AS DOUBLE) / CAST(ng AS DOUBLE)) /
                    (sqrt((CAST(ng AS DOUBLE) * CAST(sqg AS DOUBLE)
                      - CAST(scg AS DOUBLE) * CAST(scg AS DOUBLE)) /
                      (CAST(ng AS DOUBLE) * CAST(ng AS DOUBLE)))
                      / sqrt(CAST(n AS DOUBLE))) AS z
                  FROM per CROSS JOIN gtot),
             pz AS (SELECT nation, n, m, z, abs(z) AS az FROM zp),
             pv AS (SELECT nation, n, m, z,
                    round(2.0 * ($qz), 10) AS p
                  FROM pz),
             rkd AS (SELECT nation, n, m, z, p,
                    CAST(row_number() OVER (ORDER BY p, nation) AS BIGINT)
                      AS rk
                  FROM pv),
             km AS (SELECT max(CASE WHEN p <= CAST(rk AS DOUBLE) * 0.1
                      / CAST(m AS DOUBLE) THEN rk ELSE 0 END) AS kmax
                  FROM rkd)
            SELECT nation, n, z, p, rk, rk <= kmax AS rejected
            FROM rkd CROSS JOIN km
            ORDER BY rk, nation"""
    })

  /** Kaplan–Meier survival curve — time-to-conversion WITH censoring (the
    * estimator q_time_to_convert silently forgoes: users who signed up
    * but have not purchased by the observation end are CENSORED, not
    * failures, and dropping them biases every delay statistic downward):
    * per signup user, the day-granular delay to first purchase or the
    * censoring day at the corpus's last event; at each event day t,
    * n_at_risk = signups − prior conversions − prior censorings, and
    * S(t) = Π_{d≤t, conv days}(1 − d_i/n_i) computed as exp of a Dec12
    * cumulative log-sum (the engines' ln/exp last-ulp split — §7.2 —
    * quantized at both the term and the final exp). The day axis is
    * bounded by the observation window (≤ ~30 rows), so its running
    * sums are a justified global window (PlanLint allowlist). Scale:
    * two per-user aggregates (one user_id exchange), then O(days)
    * arithmetic.
    */
  val qAggSurvivalKm = Q(
    "q_agg_survival_km",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val su = ev.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("ts")).as("s_ts"))
      val pu = ev.where(col("event_type") === "purchase")
        .join(su, "user_id").where(col("ts") >= col("s_ts"))
        .groupBy("user_id").agg(min(col("ts")).as("p_ts"))
      val obsEnd = ev.agg(max(col("ts")).as("end_ts"))
      val users = su.join(pu, Seq("user_id"), "left")
        .crossJoin(broadcast(obsEnd))
        .select(
          expr("CAST((unix_micros(p_ts) - unix_micros(s_ts)) " +
            "DIV 86400000000 AS BIGINT)").as("delay_d"),
          expr("CAST((unix_micros(end_ts) - unix_micros(s_ts)) " +
            "DIV 86400000000 AS BIGINT)").as("cens_d"))
      val byDay = users
        .select(coalesce(col("delay_d"), col("cens_d")).as("t"),
          when(col("delay_d").isNotNull, 1L).otherwise(0L).as("conv"),
          when(col("delay_d").isNull, 1L).otherwise(0L).as("cens"))
        .groupBy("t")
        .agg(sum(col("conv")).as("d_conv"), sum(col("cens")).as("c_cens"))
      val w = Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wx = Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
      byDay
        .crossJoin(broadcast(users.agg(count(lit(1)).as("n_total"))))
        .withColumn("prior",
          coalesce(sum(col("d_conv") + col("c_cens")).over(wx), lit(0L)))
        .withColumn("n_at_risk", col("n_total") - col("prior"))
        .withColumn("lnterm", expr(
          "CAST(CASE WHEN d_conv = 0 OR d_conv >= n_at_risk THEN 0.0 " +
            "ELSE " +
            "ln(1.0 - CAST(d_conv AS DOUBLE) / CAST(n_at_risk AS DOUBLE))" +
            " END AS DECIMAL(38,12))"))
        .withColumn("cumln", sum(col("lnterm")).over(w))
        // a day that exhausts the risk set has no finite ln term — S hits
        // exactly 0 there and stays 0, tracked by a running flag (a NULL
        // term would just be SKIPPED by window SUM in both engines)
        .withColumn("zflag", max(
          when(col("d_conv") >= col("n_at_risk"), 1L).otherwise(0L))
          .over(w))
        .select(col("t"), col("n_at_risk"), col("d_conv"), col("c_cens"),
          expr("CASE WHEN zflag = 1 THEN 0.0 ELSE " +
            "CAST(CAST(exp(CAST(cumln AS DOUBLE)) AS DECIMAL(38,12)) " +
            "AS DOUBLE) END").as("survival"))
        .orderBy("t")
    },
    Some("""WITH su AS (SELECT user_id, min(ts) AS s_ts FROM events
                  WHERE event_type = 'signup' GROUP BY user_id),
             pu AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e
                  JOIN su ON e.user_id = su.user_id AND e.ts >= su.s_ts
                  WHERE e.event_type = 'purchase' GROUP BY e.user_id),
             oe AS (SELECT max(ts) AS end_ts FROM events),
             users AS (SELECT
                    CAST((epoch_us(p_ts) - epoch_us(s_ts)) // 86400000000
                      AS BIGINT) AS delay_d,
                    CAST((epoch_us(end_ts) - epoch_us(s_ts)) // 86400000000
                      AS BIGINT) AS cens_d
                  FROM su LEFT JOIN pu ON su.user_id = pu.user_id
                  CROSS JOIN oe),
             byday AS (SELECT coalesce(delay_d, cens_d) AS t,
                    CAST(sum(CASE WHEN delay_d IS NOT NULL THEN 1 ELSE 0
                      END) AS BIGINT) AS d_conv,
                    CAST(sum(CASE WHEN delay_d IS NULL THEN 1 ELSE 0
                      END) AS BIGINT) AS c_cens
                  FROM users GROUP BY 1),
             nt AS (SELECT count(*) AS n_total FROM users),
             r AS (SELECT t, d_conv, c_cens,
                    n_total - coalesce(sum(d_conv + c_cens) OVER (
                      ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                      AND 1 PRECEDING), 0) AS n_at_risk
                  FROM byday CROSS JOIN nt),
             lt AS (SELECT t, n_at_risk, d_conv, c_cens,
                    CAST(CASE WHEN d_conv = 0 OR d_conv >= n_at_risk
                      THEN 0.0 ELSE
                      ln(1.0 - CAST(d_conv AS DOUBLE)
                        / CAST(n_at_risk AS DOUBLE)) END
                      AS DECIMAL(38,12)) AS lnterm
                  FROM r),
             cl AS (SELECT t, n_at_risk, d_conv, c_cens,
                    sum(lnterm) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS cumln,
                    max(CASE WHEN d_conv >= n_at_risk THEN 1 ELSE 0 END)
                      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS zflag
                  FROM lt)
            SELECT t, CAST(n_at_risk AS BIGINT) AS n_at_risk, d_conv,
                   c_cens,
                   CASE WHEN zflag = 1 THEN 0.0 ELSE
                     CAST(CAST(exp(CAST(cumln AS DOUBLE))
                       AS DECIMAL(38,12)) AS DOUBLE) END AS survival
            FROM cl ORDER BY t"""))

  /** Theil–Sen robust trend — the MAGNITUDE companion to Mann–Kendall's
    * direction test (MK says "is there a monotone trend"; Theil–Sen says
    * "how steep", immune to the outlier days that drag OLS): per flag,
    * the median of all O(days²) pairwise slopes over the daily-cents
    * series, plus the median-residual intercept. Same distribution shape
    * as Mann–Kendall: the calendar-bounded daily rollup broadcasts, so
    * the pair fan-out spreads across the big side's partitions (never 3
    * flag-keyed tasks); each slope is ONE division of exact integers
    * (identical in both engines), medians are the 6-decimal-rounded
    * exact-percentile surface (winsorize doctrine; percentile_approx is
    * the documented 100 TB swap). Days² stays bounded by the calendar —
    * rows per day grow at scale, days do not.
    */
  val qAggTheilSen = Q(
    "q_agg_theil_sen",
    (s, dir) => {
      val daily = Det.dailyCents(s, dir, "y")
        .withColumn("x",
          datediff(col("d"), lit("1970-01-01").cast("date")).cast("long"))
        // r21: calendar-bounded (days × flags) but consumed three times
        // (both slope-pair sides + the intercept join), each re-running
        // the lineitem aggregate — pin once
        .localCheckpoint(true)
      val a = daily.select(col("flag"), col("x").as("xi"), col("y").as("yi"))
      val b = daily.select(col("flag"), col("x").as("xj"), col("y").as("yj"))
      val med = b.join(broadcast(a), Seq("flag"))
        .where(col("xi") < col("xj"))
        .select(col("flag"),
          expr("CAST(yj - yi AS DOUBLE) / CAST(xj - xi AS DOUBLE)")
            .as("slope"))
        .groupBy("flag")
        .agg(count(lit(1)).as("n_pairs"),
          round(expr("percentile(slope, 0.5)"), 6).as("slope_med"))
      daily.join(broadcast(med), "flag")
        .groupBy(col("flag"))
        .agg(round(expr(
          "percentile(CAST(y AS DOUBLE) - slope_med * CAST(x AS DOUBLE)," +
            " 0.5)"), 6).as("intercept_med"),
          first(col("n_pairs")).as("n_pairs"),
          first(col("slope_med")).as("slope_med"))
        .select(col("flag"), col("n_pairs"), col("slope_med"),
          col("intercept_med"))
        .orderBy("flag")
    },
    Some(s"""WITH daily AS (SELECT l_returnflag AS flag,
                    CAST(l_shipdate AS DATE) AS d,
                    CAST(sum(${Det.sqlCents("l_extendedprice")}) AS BIGINT)
                      AS y,
                    CAST(datediff('day', DATE '1970-01-01',
                      CAST(l_shipdate AS DATE)) AS BIGINT) AS x
                  FROM lineitem GROUP BY 1, 2, 4),
             sl AS (SELECT a.flag,
                     CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE)
                       AS slope
                   FROM daily a JOIN daily b
                     ON a.flag = b.flag AND a.x < b.x),
             med AS (SELECT flag, count(*) AS n_pairs,
                     round(quantile_cont(slope, 0.5), 6) AS slope_med
                   FROM sl GROUP BY flag),
             ic AS (SELECT daily.flag,
                     round(quantile_cont(CAST(y AS DOUBLE)
                       - slope_med * CAST(x AS DOUBLE), 0.5), 6)
                       AS intercept_med
                   FROM daily JOIN med ON daily.flag = med.flag
                   GROUP BY daily.flag)
            SELECT med.flag, n_pairs, slope_med, intercept_med
            FROM med JOIN ic ON med.flag = ic.flag
            ORDER BY med.flag"""))

  /** 2-D skyline (Pareto frontier) — the classic "maximal vectors"
    * operator (best tradeoff shortlists: no other point is ≥ in both
    * dimensions and > in one): per market segment, the customers maximal
    * in (lifetime cents, order count). Computed WITHOUT the O(n²)
    * dominance self-join: distinct (money, freq) points sorted
    * (money desc, freq desc) admit the running-max rule — a point is on
    * the skyline iff its freq exceeds the running max freq of all
    * strictly-better-money predecessors (equal-money ties fold into the
    * distinct step). The running max rides Prefix's grouped two-phase
    * decomposition (64 per-segment range buckets), so no task ever
    * sorts a whole segment; exact cents.
    */
  val qSkyline2d = Q(
    "q_skyline_2d",
    (s, dir) => {
      val per = Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("freq"),
          sum(Det.cents("o_totalprice")).as("money_c"))
        .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment").as("segment")),
          col("o_custkey") === col("c_custkey"))
      val pts = per.groupBy("segment", "money_c", "freq")
        .agg(min(col("o_custkey")).as("keeper"),
          count(lit(1)).as("n_dups"))
        .localCheckpoint()
      // the running max rides Prefix's GROUPED two-phase decomposition:
      // a plain Window.partitionBy(segment) sorts O(customers/|segments|)
      // in ONE task per segment (|segments| is constant — that's the
      // global-window killer wearing a 5-way disguise)
      val cm = Prefix.groupedRunningMaxExcl(
        Prefix.withGroupRangeBucket(pts, Seq("segment"), col("money_c"),
          64, "__b"),
        Seq("segment"), "__b",
        Seq(col("money_c").desc, col("freq").desc, col("keeper")),
        bucketDesc = true, col("freq"), "cmax")
      cm.where(col("cmax").isNull || col("freq") > col("cmax"))
        .select(col("segment"), col("money_c"), col("freq"),
          col("keeper"), col("n_dups"))
        .orderBy(col("segment"), col("money_c").desc)
    },
    Some(s"""WITH per AS (SELECT o_custkey,
                    count(*) AS freq,
                    CAST(sum(${Det.sqlCents("o_totalprice")}) AS BIGINT)
                      AS money_c
                  FROM orders GROUP BY o_custkey),
             pts AS (SELECT c.c_mktsegment AS segment, money_c, freq,
                       min(o_custkey) AS keeper, count(*) AS n_dups
                     FROM per JOIN customer c ON o_custkey = c.c_custkey
                     GROUP BY 1, 2, 3),
             r AS (SELECT *, max(freq) OVER (PARTITION BY segment
                     ORDER BY money_c DESC, freq DESC, keeper
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS cmax
                   FROM pts)
            SELECT segment, money_c, freq, keeper, n_dups
            FROM r WHERE cmax IS NULL OR freq > cmax
            ORDER BY segment, money_c DESC"""))

  // OOV rate: one IEEE division over exact integer counts
  private val oovFml = "CAST(n_oov AS DOUBLE) / CAST(n_tokens AS DOUBLE)"

  /** Vocabulary coverage / OOV rate — the tokenizer-fit screen a training
    * pipeline runs per corpus slice (how much of this slice falls outside
    * the model's vocabulary?): vocabulary = global top-1000 tokens by
    * exact count with (count desc, token) total order — a bounded heap
    * (TakeOrderedAndProject), NEVER a global sort or window; per-language
    * token volume and OOV volume are exact integers off one scan, the
    * rate is one shared-formula division. The 1000-row vocabulary is
    * broadcast-safe at ANY corpus scale by construction.
    */
  val qVocabCoverage = Q(
    "q_vocab_coverage",
    (s, dir) => {
      // lang rides the explode — joining the doc table back on doc_id
      // would shuffle O(tokens) rows just to re-attach a column the scan
      // already had
      val t = Tables.documents(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "")
      val vocab = t.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok")).limit(1000)
        .select(col("tok"), lit(1).as("iv"))
      t.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("lang"), col("n_tokens"), col("n_oov"),
          expr(oovFml).as("oov_rate"))
        .orderBy("lang")
    },
    Some(s"""WITH t AS (SELECT doc_id, tok
                  FROM (SELECT doc_id,
                          unnest(string_split(text, ' ')) AS tok
                        FROM documents)
                  WHERE tok <> ''),
             tl AS (SELECT t.doc_id, t.tok, d.lang
                    FROM t JOIN documents d ON t.doc_id = d.doc_id),
             vocab AS (SELECT tok FROM
                         (SELECT tok, count(*) AS cnt FROM t GROUP BY tok)
                       ORDER BY cnt DESC, tok LIMIT 1000),
             j AS (SELECT tl.lang,
                     CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
                   FROM tl LEFT JOIN vocab v ON tl.tok = v.tok)
            SELECT lang, count(*) AS n_tokens,
                   CAST(sum(oov) AS BIGINT) AS n_oov, $oovFml AS oov_rate
            FROM j GROUP BY lang ORDER BY lang"""))

  // novelty rate: one IEEE division over exact integer counts
  private val novFml = "CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE)"

  /** N-gram novelty — the incremental-crawl curation signal (how much of
    * this source's content is FIRST-SEEN here vs already covered by
    * earlier documents?): each distinct 3-shingle is owned by its
    * minimum doc_id; a doc's novel shingles are those it owns; rolled up
    * per source as exact integer volumes + one rate division. The
    * doc-order novelty definition is deterministic and engine-free.
    * Scale: one (shingle → min owner) rollup + one membership join, both
    * keyed on the shingle hash — no pair expansion anywhere (novelty is
    * the cheap screen run BEFORE pairwise dedup). Shingles ride xxhash64
    * on the Spark side vs raw strings in the oracle — the same accepted
    * ~n²/2⁶⁵ collision trade as q_dedup_jaccard_pairs.
    */
  val qNgramNovelty = Q(
    "q_ngram_novelty",
    (s, dir) => {
      // r21: ShingleXxh64Set kernel — same seed-42 hashes, per-doc
      // distinct replaces the interpreted shingle lambda AND the
      // (doc_id, h) distinct exchange (see dedupBase).
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"), explode(
          expr("shingle_xxh64_set(split(text, ' '))")).as("h"))
      val owner = sh.groupBy("h").agg(min(col("doc_id")).as("first_doc"))
      val perDoc = sh.join(owner, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_sh"),
          sum(when(col("first_doc") === col("doc_id"), 1L)
            .otherwise(0L)).as("n_nov"))
      perDoc
        .join(Tables.documents(s, dir).select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_sh")).as("n_shingles"),
          sum(col("n_nov")).as("n_novel"))
        .select(col("source"), col("n_docs"), col("n_shingles"),
          col("n_novel"), expr(novFml).as("novelty_rate"))
        .orderBy("source")
    },
    Some(s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents
                  WHERE len(string_split(text, ' ')) >= 3),
             sh AS (SELECT DISTINCT doc_id,
                      unnest([array_to_string(toks[i:i+2], ' ')
                              FOR i IN range(1, len(toks) - 1)]) AS shingle
                    FROM d),
             own AS (SELECT shingle, min(doc_id) AS first_doc
                     FROM sh GROUP BY shingle),
             pd AS (SELECT sh.doc_id, count(*) AS n_sh,
                      CAST(sum(CASE WHEN own.first_doc = sh.doc_id
                                    THEN 1 ELSE 0 END) AS BIGINT) AS n_nov
                    FROM sh JOIN own ON sh.shingle = own.shingle
                    GROUP BY sh.doc_id),
             r AS (SELECT doc.source, pd.n_sh, pd.n_nov
                   FROM pd JOIN documents doc ON pd.doc_id = doc.doc_id)
            SELECT source, count(*) AS n_docs,
                   CAST(sum(n_sh) AS BIGINT) AS n_shingles,
                   CAST(sum(n_nov) AS BIGINT) AS n_novel,
                   $novFml AS novelty_rate
            FROM r GROUP BY source ORDER BY source"""))

  // Benford expected first-digit shares as SHARED literal text — both
  // engines parse the identical decimal literal to the identical double,
  // so share − expected is one IEEE subtraction on identical operands
  // (log10(1+1/d) itself is libm, banned cross-engine by §7.2)
  private val benfordCase =
    "CASE digit WHEN 1 THEN CAST(0.301029995663981 AS DOUBLE) " +
      "WHEN 2 THEN CAST(0.176091259055681 AS DOUBLE) " +
      "WHEN 3 THEN CAST(0.124938736608300 AS DOUBLE) " +
      "WHEN 4 THEN CAST(0.096910013008056 AS DOUBLE) " +
      "WHEN 5 THEN CAST(0.079181246047625 AS DOUBLE) " +
      "WHEN 6 THEN CAST(0.066946789630613 AS DOUBLE) " +
      "WHEN 7 THEN CAST(0.057991946977687 AS DOUBLE) " +
      "WHEN 8 THEN CAST(0.051152522447381 AS DOUBLE) " +
      "ELSE CAST(0.045757490560675 AS DOUBLE) END"
  private val benfordShare =
    "CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE)"

  /** Benford first-digit screen — the classic fraud / fabricated-data
    * detector (natural multi-magnitude amounts follow log-law digit
    * frequencies; fabricated ones don't): first significant digit of
    * exact order cents, per-digit census, observed share vs the Benford
    * expectation (shared literal table — no libm log anywhere), absolute
    * deviation per digit. 9-row output; one two-phase aggregate over the
    * fact table. The verdict an auditor reads is the deviation column.
    */
  val qAggBenford = Q(
    "q_agg_benford",
    (s, dir) => {
      val d = Tables.orders(s, dir)
        .select(substring(Det.cents("o_totalprice").cast("string"), 1, 1)
          .cast(IntegerType).as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      val tot = d.agg(sum(col("n")).as("n_total"))
      d.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          expr(benfordShare).as("share"),
          expr(benfordCase).as("expected"))
        .withColumn("abs_dev", abs(col("share") - col("expected")))
        .orderBy("digit")
    },
    Some(s"""WITH d AS (SELECT CAST(substr(CAST(${Det.sqlCents("o_totalprice")}
                      AS VARCHAR), 1, 1) AS INTEGER) AS digit
                  FROM orders),
             c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
             t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c)
            SELECT digit, n, $benfordShare AS share,
                   $benfordCase AS expected,
                   abs($benfordShare - $benfordCase) AS abs_dev
            FROM c, t ORDER BY digit"""))

  /** Bitmap engagement rollup — the roaring-bitmap cohort pattern (which
    * days of the month was each user active?) in pure integer form: one
    * BIGINT mask per (user, month) via bit_or(1 << day−1), active-day
    * count via bit_count, then the engagement histogram. The mask is an
    * ASSOCIATIVE integer aggregate — map-side combinable, mergeable
    * across partitions/increments exactly like a production bitmap
    * index segment. All integers end-to-end.
    */
  val qBitmapEngagement = Q(
    "q_bitmap_engagement",
    (s, dir) => {
      val m = Tables.events(s, dir)
        .select(col("user_id"),
          date_format(col("ts"), "yyyy-MM").as("ym"),
          expr("shiftleft(CAST(1 AS BIGINT), day(ts) - 1)").as("daybit"))
        .groupBy("user_id", "ym")
        .agg(expr("bit_or(daybit)").as("mask"))
        .select(col("user_id"), col("ym"),
          expr("bit_count(mask)").as("active_days"))
      m.groupBy("active_days")
        .agg(count(lit(1)).as("n_user_months"))
        .orderBy("active_days")
    },
    Some("""WITH m AS (SELECT user_id, strftime(ts, '%Y-%m') AS ym,
                    CAST(bit_count(bit_or(CAST(1 AS BIGINT)
                      << (day(ts) - 1))) AS INTEGER) AS active_days
                  FROM events GROUP BY user_id, strftime(ts, '%Y-%m'))
            SELECT active_days, count(*) AS n_user_months
            FROM m GROUP BY active_days ORDER BY active_days"""))

  /** Log-line parsing — the structured-extraction ETL staple (access
    * logs → typed columns): Apache-combined-style lines synthesized
    * DETERMINISTICALLY from events (so the oracle sees the identical
    * construction), parsed back with one regexp into method / path /
    * status / bytes, rolled up per (method, status) with exact byte
    * sums. Parse failures surface as a NULL-method group instead of
    * vanishing — the DQ posture for malformed lines. Per-row projection
    * + bounded two-phase aggregate; the regexp runs once per line.
    */
  val qParseLogline = Q(
    "q_parse_logline",
    (s, dir) => {
      val line =
        "concat('10.0.', CAST(user_id % 256 AS STRING), '.', " +
          "CAST(event_id % 256 AS STRING), ' - - [', " +
          "CAST(CAST(ts AS DATE) AS STRING), '] \"', " +
          "CASE WHEN event_id % 10 = 0 THEN 'POST' ELSE 'GET' END, " +
          "' /', event_type, '/', CAST(event_id % 100 AS STRING), " +
          "' HTTP/1.1\" ', " +
          "CASE WHEN event_id % 17 = 0 THEN '404' " +
          "WHEN event_id % 31 = 0 THEN '500' ELSE '200' END, ' ', " +
          "CAST(CAST(floor(value * CAST(10.0 AS DOUBLE)) AS BIGINT) " +
          "AS STRING))"
      val rx = "^\\S+ \\S+ \\S+ \\[[^\\]]+\\] \"(\\S+) (\\S+) [^\"]+\" (\\d+) (\\d+)$"
      Tables.events(s, dir)
        .select(expr(line).as("line"))
        .select(
          nullif(regexp_extract(col("line"), rx, 1), lit("")).as("method"),
          regexp_extract(col("line"), rx, 3).cast(IntegerType).as("status"),
          regexp_extract(col("line"), rx, 4).cast("long").as("bytes"))
        .groupBy("method", "status")
        .agg(count(lit(1)).as("n_requests"), sum(col("bytes")).as("total_bytes"))
        .orderBy("method", "status")
    },
    Some("""WITH l AS (SELECT '10.0.' || CAST(user_id % 256 AS VARCHAR)
                    || '.' || CAST(event_id % 256 AS VARCHAR)
                    || ' - - [' || CAST(CAST(ts AS DATE) AS VARCHAR)
                    || '] "'
                    || (CASE WHEN event_id % 10 = 0 THEN 'POST'
                             ELSE 'GET' END)
                    || ' /' || event_type || '/'
                    || CAST(event_id % 100 AS VARCHAR)
                    || ' HTTP/1.1" '
                    || (CASE WHEN event_id % 17 = 0 THEN '404'
                             WHEN event_id % 31 = 0 THEN '500'
                             ELSE '200' END)
                    || ' '
                    || CAST(CAST(floor(value * CAST(10.0 AS DOUBLE))
                         AS BIGINT) AS VARCHAR) AS line
                  FROM events),
             p AS (SELECT
                     nullif(regexp_extract(line,
                       '^\S+ \S+ \S+ \[[^\]]+\] "(\S+) (\S+) [^"]+" (\d+) (\d+)$',
                       1), '') AS method,
                     CAST(regexp_extract(line,
                       '^\S+ \S+ \S+ \[[^\]]+\] "(\S+) (\S+) [^"]+" (\d+) (\d+)$',
                       3) AS INTEGER) AS status,
                     CAST(regexp_extract(line,
                       '^\S+ \S+ \S+ \[[^\]]+\] "(\S+) (\S+) [^"]+" (\d+) (\d+)$',
                       4) AS BIGINT) AS bytes
                   FROM l)
            SELECT method, status, count(*) AS n_requests,
                   CAST(sum(bytes) AS BIGINT) AS total_bytes
            FROM p GROUP BY method, status ORDER BY method, status"""))

  /** Order-insensitive table checksum — the migration / replication /
    * snapshot-diff primitive (did two copies of a 100 TB table end up
    * identical WITHOUT sorting either?): every row folds to the portable
    * 60-bit hash of its canonical projection (exact cents for floats,
    * ISO dates — no float-formatting hazard), reduced by the two
    * order-free monoids (exact decimal SUM and XOR). Any single-row
    * difference moves both. One scan, one 1-row aggregate, zero
    * shuffles of data wider than the hash.
    */
  val qChecksumTable = Q(
    "q_checksum_table",
    (s, dir) => {
      val repr =
        "concat_ws('|', CAST(l_orderkey AS STRING), " +
          "CAST(l_linenumber AS STRING), l_returnflag, l_linestatus, " +
          s"CAST(${Det.sqlCents("l_extendedprice")} AS STRING), " +
          "CAST(CAST(l_shipdate AS DATE) AS STRING))"
      Tables.lineitem(s, dir)
        .select(Det.pHash60(expr(repr)).as("h"))
        .agg(count(lit(1)).as("n_rows"),
          // exact decimal sum carried as STRING: it exceeds int64 beyond
          // ~8M rows, and a decimal column would be dtype-coerced
          // differently by the two engines' pandas bridges
          sum(col("h").cast(Dec0)).cast("string").as("sum_hash"),
          expr("bit_xor(h)").as("xor_hash"))
    },
    Some(s"""SELECT count(*) AS n_rows,
                    CAST(SUM(CAST(h AS DECIMAL(38,0))) AS VARCHAR)
                      AS sum_hash,
                    bit_xor(h) AS xor_hash
             FROM (SELECT ${Det.sqlPHash60(
      "CAST(l_orderkey AS VARCHAR) || '|' || " +
        "CAST(l_linenumber AS VARCHAR) || '|' || l_returnflag || '|' || " +
        s"l_linestatus || '|' || CAST(${Det.sqlCents("l_extendedprice")} " +
        "AS VARCHAR) || '|' || CAST(CAST(l_shipdate AS DATE) AS VARCHAR)"
    )} AS h FROM lineitem)"""))

  /** Two-hop reach of the top hubs — the friends-of-friends / blast-radius
    * readout (how much of the graph sits within two hops of the heaviest
    * nodes?) over the bucketed graph store: top-20 hubs by degree
    * (TakeOrdered off the exchange-free degree read), first hop filters
    * the bucketed adjacency by a BROADCAST hub list (bounded by the
    * explicit top-k), second hop re-joins the adjacency on the
    * intermediate frontier — the only exchange carries O(Σ deg(hub))
    * frontier rows, never the full edge set. Distinct 2-hop neighbors
    * exclude the hub itself.
    */
  val qGraph2hopHubs = Q(
    "q_graph_2hop_hubs",
    (s, dir) => {
      val und = Relational.graphUnd(s, dir)
      val hubs = Relational.graphDeg(s, dir)
        .orderBy(col("deg").desc, col("src")).limit(20)
        .select(col("src").as("hub"), col("deg"))
      val hop1 = und.join(broadcast(hubs), col("src") === col("hub"))
        .select(col("hub"), col("deg"), col("dst").as("n1"))
      val hop2 = und.join(hop1, col("src") === col("n1"))
        .where(col("dst") =!= col("hub"))
        .groupBy("hub", "deg")
        .agg(countDistinct(col("dst")).as("n_2hop"))
      hop2.select(col("hub"), col("deg"), col("n_2hop"))
        .orderBy(col("deg").desc, col("hub"))
    },
    Some("""WITH e AS (SELECT DISTINCT l_partkey * 2 AS a,
                    l_suppkey * 2 + 1 AS b FROM lineitem),
             und AS (SELECT a AS src, b AS dst FROM e
                     UNION ALL SELECT b, a FROM e),
             deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
             hubs AS (SELECT src AS hub, deg FROM deg
                      ORDER BY deg DESC, src LIMIT 20),
             h1 AS (SELECT h.hub, h.deg, u.dst AS n1
                    FROM und u JOIN hubs h ON u.src = h.hub),
             h2 AS (SELECT h1.hub, h1.deg, u.dst
                    FROM und u JOIN h1 ON u.src = h1.n1
                    WHERE u.dst <> h1.hub)
            SELECT hub, deg, count(DISTINCT dst) AS n_2hop
            FROM h2 GROUP BY hub, deg ORDER BY deg DESC, hub"""))

  /** Inverted-index build — the search-index construction step (token →
    * posting list): document frequency per token over distinct
    * (token, doc) pairs, postings CAPPED at the first 10 doc_ids via a
    * per-token WindowGroupLimit (the exchange carries ≤10 rows per
    * token, never a full posting list — uncapped lists OOM on stopwords
    * at corpus scale), top-50 tokens by (df desc, token) as a bounded
    * heap. The posting list is emitted as a comma-joined STRING, not a
    * raw array: the verify harness cannot sort array-typed columns
    * (pandas factorize dies on ndarray — the r11 failure), and the
    * scalar projection is the repo-wide output doctrine (OutputShapeSpec).
    * Arrays are sorted before joining → deterministic.
    */
  val qInvertedIndex = Q(
    "q_inverted_index",
    (s, dir) => {
      val td = Llm.tokens(Tables.documents(s, dir)).distinct()
      val df = td.groupBy("tok").agg(count(lit(1)).as("df"))
      val top = df.orderBy(col("df").desc, col("tok")).limit(50)
      val postings = td.join(broadcast(top), Seq("tok"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("tok")).orderBy(col("doc_id"))))
        .where(col("rn") <= 10)
        .groupBy("tok", "df")
        .agg(array_join(sort_array(collect_list(col("doc_id"))), ",")
          .as("postings"))
      postings.select(col("tok"), col("df"), col("postings"))
        .orderBy(col("df").desc, col("tok"))
    },
    Some("""WITH td AS (SELECT DISTINCT doc_id, tok
                  FROM (SELECT doc_id,
                          unnest(string_split(text, ' ')) AS tok
                        FROM documents)
                  WHERE tok <> ''),
             df AS (SELECT tok, count(*) AS df FROM td GROUP BY tok),
             top AS (SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 50),
             r AS (SELECT td.tok, top.df, td.doc_id,
                     row_number() OVER (PARTITION BY td.tok
                       ORDER BY td.doc_id) AS rn
                   FROM td JOIN top ON td.tok = top.tok)
            SELECT tok, df,
                   string_agg(CAST(doc_id AS VARCHAR), ','
                              ORDER BY doc_id) AS postings
            FROM r WHERE rn <= 10
            GROUP BY tok, df ORDER BY df DESC, tok"""))

  // population covariance from exact integer moments: one shared formula
  // text per cell — (n·Σab − Σa·Σb)/n², every operand an exact integer
  // correctly rounded to double once
  private def covFml(sab: String, sa: String, sb: String): String =
    s"(CAST(n AS DOUBLE) * CAST($sab AS DOUBLE) " +
      s"- CAST($sa AS DOUBLE) * CAST($sb AS DOUBLE)) " +
      "/ (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))"

  /** Covariance matrix — the multi-metric dependence readout feeding
    * feature selection / PCA preprocessing / anomaly ellipsoids: the
    * full 3×3 population covariance of (quantity, price cents, discount
    * permille) from EXACT integer moments — Spark's covar_pop is an
    * order-dependent double accumulation (the §7.2 hazard), so all nine
    * sums ride DECIMAL(38,0) per-row integer products through ONE
    * two-phase aggregate, finals via shared formula text. One scan, one
    * row out, map-side combinable — the same plan as a plain sum.
    */
  val qAggCovarMatrix = Q(
    "q_agg_covar_matrix",
    (s, dir) => {
      def dsum(e: String) = sum(expr(e).cast(Dec0))
      Tables.lineitem(s, dir)
        .select(col("l_quantity").cast("long").as("x"),
          Det.cents("l_extendedprice").as("y"),
          expr("CAST(floor(l_discount * CAST(1000.0 AS DOUBLE) " +
            "+ CAST(0.5 AS DOUBLE)) AS BIGINT)").as("z"))
        .agg(count(lit(1)).as("n"),
          dsum("x").as("sx"), dsum("y").as("sy"), dsum("z").as("sz"),
          dsum("x * x").as("sxx"), dsum("y * y").as("syy"),
          dsum("z * z").as("szz"), dsum("x * y").as("sxy"),
          dsum("x * z").as("sxz"), dsum("y * z").as("syz"))
        .select(col("n"),
          expr(covFml("sxx", "sx", "sx")).as("var_qty"),
          expr(covFml("syy", "sy", "sy")).as("var_price"),
          expr(covFml("szz", "sz", "sz")).as("var_disc"),
          expr(covFml("sxy", "sx", "sy")).as("cov_qty_price"),
          expr(covFml("sxz", "sx", "sz")).as("cov_qty_disc"),
          expr(covFml("syz", "sy", "sz")).as("cov_price_disc"))
    },
    Some(s"""WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS x,
                    ${Det.sqlCents("l_extendedprice")} AS y,
                    CAST(floor(l_discount * CAST(1000.0 AS DOUBLE)
                      + CAST(0.5 AS DOUBLE)) AS BIGINT) AS z
                  FROM lineitem),
             m AS (SELECT count(*) AS n,
                     SUM(CAST(x AS DECIMAL(38,0))) AS sx,
                     SUM(CAST(y AS DECIMAL(38,0))) AS sy,
                     SUM(CAST(z AS DECIMAL(38,0))) AS sz,
                     SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
                     SUM(CAST(y * y AS DECIMAL(38,0))) AS syy,
                     SUM(CAST(z * z AS DECIMAL(38,0))) AS szz,
                     SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy,
                     SUM(CAST(x * z AS DECIMAL(38,0))) AS sxz,
                     SUM(CAST(y * z AS DECIMAL(38,0))) AS syz
                   FROM b)
            SELECT n, ${covFml("sxx", "sx", "sx")} AS var_qty,
                   ${covFml("syy", "sy", "sy")} AS var_price,
                   ${covFml("szz", "sz", "sz")} AS var_disc,
                   ${covFml("sxy", "sx", "sy")} AS cov_qty_price,
                   ${covFml("sxz", "sx", "sz")} AS cov_qty_disc,
                   ${covFml("syz", "sy", "sz")} AS cov_price_disc
            FROM m"""))

  /** Generalized ESD (extreme studentized deviate, 3 unrolled rounds) —
    * the ITERATIVE outlier test (q_anomaly_iqr and hampel flag points
    * against FIXED fences; ESD re-estimates mean/σ after removing each
    * extreme, which is what makes it valid when outliers mask each
    * other — the masking problem is the reason ESD exists): over the
    * global daily-revenue series, each round computes exact-moment
    * mean/SAMPLE-σ (n−1 — the denominator the λ_i critical-value
    * tables assume) of the SURVIVING days, studentizes, and removes the max
    * |z| day (tie → earliest); output = the 3 extracted candidates with
    * their round-local z (the consumer applies the λ_i critical values).
    * All counting exact (Dec0 moments), z ONE shared formula per round,
    * argmax a struct max broadcast back as an anti-filter — each round
    * is one aggregate + one broadcast, no windows.
    */
  val qAnomalyEsd = Q(
    "q_anomaly_esd",
    (s, dir) => {
      // SAMPLE σ (n−1 denominator, ADVICE r12): the canonical R_i
      // statistic the λ_i critical-value tables are defined against —
      // var_s = (n·ss − sy²)/(n·(n−1)); the population form inflated z
      // by √(n/(n−1)) relative to the tables consumers apply.
      val zFml = "(CAST(y AS DOUBLE) - CAST(sy AS DOUBLE) " +
        "/ CAST(n AS DOUBLE)) / sqrt((CAST(n AS DOUBLE) " +
        "* CAST(ss AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))" +
        " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0D)))"
      val daily = Det.dailyCents(s, dir, "y", byFlag = false)
        .withColumn("t",
          datediff(col("d"), lit("1970-01-01").cast("date")).cast("long"))
        // r21: calendar-bounded; the 3-round ESD driver loop executes
        // its survivor chain ~2× per round and every execution re-ran
        // the lineitem aggregate (~7 corpus scans per query) — pin once
        .localCheckpoint(true)
      var surv = daily
      var picks = Seq.empty[DataFrame]
      for (r <- 1 to 3) {
        val m = surv.agg(count(lit(1)).as("n"),
          sum(col("y").cast(Dec0)).as("sy"),
          sum((col("y").cast(Dec0) * col("y").cast(Dec0))).as("ss"))
        val scored = surv.crossJoin(broadcast(m))
          .withColumn("z", expr(zFml))
          .withColumn("az", abs(col("z")))
        val pick = scored
          .agg(max(struct(col("az"), (-col("t")).as("nt"), col("t"),
            col("d"), col("y"), col("z"))).as("m"))
          .select(lit(r).as("round"), col("m.d").as("d"),
            col("m.y").as("y"), col("m.z").as("z"), col("m.t").as("t"))
        picks = picks :+ pick
        surv = surv.crossJoin(broadcast(pick.select(col("t").as("pt"))))
          .where(col("t") =!= col("pt")).drop("pt")
      }
      // round-10 output fence: the moment-formula double chain differs
      // from DuckDB's in the last ulps (decimal->double conversions of
      // >2^53 exact integers take different internal paths); ranking is
      // unaffected (continuous az), only the reported z is fenced
      picks.map(_.select(col("round"),
          col("d").cast(org.apache.spark.sql.types.TimestampType).as("d"),
          col("y"), round(col("z"), 10).as("z")))
        .reduce(_ unionByName _)
        .orderBy("round")
    },
    Some {
      val zFml = """(CAST(y AS DOUBLE) - CAST(sy AS DOUBLE)
        / CAST(n AS DOUBLE)) / sqrt((CAST(n AS DOUBLE)
        * CAST(ss AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))"""
      val rounds = (1 to 3).map { r =>
        val prev = if (r == 1) "daily" else s"surv${r - 1}"
        s"""m$r AS (SELECT count(*) AS n,
                 SUM(CAST(y AS DECIMAL(38,0))) AS sy,
                 SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0)))
                   AS ss
               FROM $prev),
             sc$r AS (SELECT t, d, y, $zFml AS z, abs($zFml) AS az
                   FROM $prev CROSS JOIN m$r),
             pk$r AS (SELECT $r AS round, d, y, z, t
                   FROM (SELECT *, row_number() OVER (
                           ORDER BY az DESC, t) AS rn FROM sc$r)
                   WHERE rn = 1),
             surv$r AS (SELECT p.t, p.d, p.y FROM $prev p
                   WHERE p.t NOT IN (SELECT t FROM pk$r))"""
      }.mkString(",\n             ")
      s"""WITH daily AS (SELECT CAST(l_shipdate AS DATE) AS d,
                    CAST(SUM(${Det.sqlCents("l_extendedprice")}) AS BIGINT)
                      AS y,
                    CAST(datediff('day', DATE '1970-01-01',
                      CAST(l_shipdate AS DATE)) AS BIGINT) AS t
                  FROM lineitem GROUP BY 1, 3),
             $rounds
            SELECT round, CAST(d AS TIMESTAMP) AS d, y,
                   round(z, 10) AS z
            FROM (SELECT * FROM pk1 UNION ALL SELECT * FROM pk2
                  UNION ALL SELECT * FROM pk3)
            ORDER BY round"""
    })

  /** Population Stability Index — THE model-monitoring drift metric
    * (every scorecard/feature-store alert pipeline computes PSI between
    * a baseline window and today; corpus_drift's TV distance is the
    * categorical sibling — PSI is the BINNED-CONTINUOUS standard with
    * the industry's 0.1/0.25 alert fences): price distribution of the
    * first half of the order calendar vs the second, binned by the
    * BASELINE's exact deciles (percentile fences, winsorize doctrine —
    * engine-identical), PSI = Σ (p₂−p₁)·ln(p₂/p₁) with Laplace-
    * smoothed shares (zero-proof, stated) as Dec12-quantized order-free
    * terms. Output: per-bin shares + the PSI scalar on every row (the
    * dashboard shape). Scale: fences are a bounded broadcast; binning
    * is one scan; everything else is O(10) arithmetic.
    */
  val qDqDriftPsi = Q(
    "q_dq_drift_psi",
    (s, dir) => {
      val priced = Tables.orders(s, dir)
        .select(col("o_totalprice").as("v"), col("o_orderdate").as("ts"))
      val mid = priced.agg(
        round(expr("percentile(CAST(unix_micros(ts) AS DOUBLE), 0.5)"), 6)
          .as("mid_us"))
      val tagged = priced.crossJoin(broadcast(mid))
        .withColumn("half",
          when(expr("CAST(unix_micros(ts) AS DOUBLE) <= mid_us"), 1)
            .otherwise(2))
      val fenceCols = (1 to 9).map(d =>
        round(expr(s"percentile(v, 0.$d)"), 6).as(s"f$d"))
      val fences = tagged.where(col("half") === 1)
        .agg(fenceCols.head, fenceCols.tail: _*)
      val binFml = "CASE " + (1 to 9).map(d =>
        s"WHEN v <= f$d THEN $d").mkString(" ") + " ELSE 10 END"
      val counted = tagged.crossJoin(broadcast(fences))
        .withColumn("bin", expr(binFml))
        .groupBy("bin")
        .agg(sum(when(col("half") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("half") === 2, 1L).otherwise(0L)).as("n2"))
      // explicit 10-bin spine (ADVICE r12): a decile bin empty in BOTH
      // halves otherwise produces no row, so the +5.0 (= 0.5 × 10 bins)
      // Laplace denominator no longer matches the smoothed-share count —
      // shares stop summing to 1 and the empty bin's PSI term vanishes.
      // With the spine every bin appears (n=0 → smoothed share 0.5/(t+5)).
      val binned = s.range(1, 11)
        .select(col("id").cast("int").as("bin"))
        .join(counted, Seq("bin"), "left")
        .select(col("bin"), coalesce(col("n1"), lit(0L)).as("n1"),
          coalesce(col("n2"), lit(0L)).as("n2"))
      val tot = binned.agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"))
      val shares = binned.crossJoin(broadcast(tot))
        .withColumn("p1", expr("(CAST(n1 AS DOUBLE) + 0.5) " +
          "/ (CAST(t1 AS DOUBLE) + 5.0)"))
        .withColumn("p2", expr("(CAST(n2 AS DOUBLE) + 0.5) " +
          "/ (CAST(t2 AS DOUBLE) + 5.0)"))
        .withColumn("term",
          expr("CAST((p2 - p1) * ln(p2 / p1) AS DECIMAL(38,12))"))
      val psi = shares.agg(sum(col("term")).cast("double").as("psi"))
      shares.crossJoin(broadcast(psi))
        .select(col("bin"), col("n1"), col("n2"), col("p1"), col("p2"),
          col("term").cast("double").as("psi_term"), col("psi"))
        .orderBy("bin")
    },
    Some {
      val binFml = "CASE " + (1 to 9).map(d =>
        s"WHEN v <= f$d THEN $d").mkString(" ") + " ELSE 10 END"
      val fenceSel = (1 to 9).map(d =>
        s"round(quantile_cont(v, 0.$d), 6) AS f$d").mkString(", ")
      s"""WITH priced AS (SELECT o_totalprice AS v, o_orderdate AS ts
                  FROM orders),
             mid AS (SELECT round(quantile_cont(
                       CAST(epoch_us(ts) AS DOUBLE), 0.5), 6) AS mid_us
                  FROM priced),
             tagged AS (SELECT v,
                     CASE WHEN CAST(epoch_us(ts) AS DOUBLE) <= mid_us
                          THEN 1 ELSE 2 END AS half
                   FROM priced CROSS JOIN mid),
             fences AS (SELECT $fenceSel FROM tagged WHERE half = 1),
             counted AS (SELECT $binFml AS bin,
                     CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n1,
                     CAST(sum(CASE WHEN half = 2 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n2
                   FROM tagged CROSS JOIN fences GROUP BY 1),
             binned AS (SELECT CAST(sp.range AS INTEGER) AS bin,
                     CAST(COALESCE(c.n1, 0) AS BIGINT) AS n1,
                     CAST(COALESCE(c.n2, 0) AS BIGINT) AS n2
                   FROM range(1, 11) sp
                   LEFT JOIN counted c ON CAST(sp.range AS INTEGER) = c.bin),
             tot AS (SELECT CAST(sum(n1) AS BIGINT) AS t1,
                       CAST(sum(n2) AS BIGINT) AS t2 FROM binned),
             shares AS (SELECT bin, n1, n2,
                     (CAST(n1 AS DOUBLE) + 0.5)
                       / (CAST(t1 AS DOUBLE) + 5.0) AS p1,
                     (CAST(n2 AS DOUBLE) + 0.5)
                       / (CAST(t2 AS DOUBLE) + 5.0) AS p2,
                     CAST((((CAST(n2 AS DOUBLE) + 0.5)
                         / (CAST(t2 AS DOUBLE) + 5.0))
                       - ((CAST(n1 AS DOUBLE) + 0.5)
                         / (CAST(t1 AS DOUBLE) + 5.0)))
                       * ln(((CAST(n2 AS DOUBLE) + 0.5)
                         / (CAST(t2 AS DOUBLE) + 5.0))
                       / ((CAST(n1 AS DOUBLE) + 0.5)
                         / (CAST(t1 AS DOUBLE) + 5.0)))
                       AS DECIMAL(38,12)) AS term
                   FROM binned CROSS JOIN tot),
             psi AS (SELECT CAST(sum(term) AS DOUBLE) AS psi FROM shares)
            SELECT bin, n1, n2, p1, p2,
                   CAST(term AS DOUBLE) AS psi_term, psi
            FROM shares CROSS JOIN psi
            ORDER BY bin"""
    })

  /** Candidate-key profiling — the uniqueness census a schema/DQ audit
    * runs before anyone declares a primary key or dedup key (this
    * fixture's own gotcha is the motivating case: (l_orderkey,
    * l_linenumber) LOOKS like the TPC-H key and is NOT unique in the
    * synthetic data — the survey's parity doctrine exists because of
    * it; this operator turns that class of assumption into a measured
    * row): for each candidate key, n_rows, n_distinct keys, duplicated
    * key count and dup row share — each ONE map-combinable aggregate
    * over a key-grouped count, unioned into the report. Scale: one
    * hash aggregate per candidate (shuffle on the candidate key — the
    * same cost ANY dedup on that key would pay).
    */
  val qDqUniqueness = Q(
    "q_dq_uniqueness",
    (s, dir) => {
      def profile(name: String, df: DataFrame,
                  keys: Seq[String]): DataFrame =
        df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("k"))
          .agg(lit(name).as("candidate_key"),
            sum(col("k")).as("n_rows"),
            count(lit(1)).as("n_distinct"),
            sum(when(col("k") > 1, 1L).otherwise(0L)).as("n_dup_keys"),
            sum(when(col("k") > 1, col("k")).otherwise(0L))
              .as("n_dup_rows"))
          .select(col("candidate_key"), col("n_rows"), col("n_distinct"),
            col("n_dup_keys"),
            expr("CAST(n_dup_rows AS DOUBLE) / CAST(n_rows AS DOUBLE)")
              .as("dup_row_share"))
      val li = Tables.lineitem(s, dir)
      Seq(
        profile("orders.o_orderkey", Tables.orders(s, dir),
          Seq("o_orderkey")),
        profile("customer.c_custkey", Tables.customer(s, dir),
          Seq("c_custkey")),
        profile("lineitem.(l_orderkey,l_linenumber)", li,
          Seq("l_orderkey", "l_linenumber")),
        profile("lineitem.(l_orderkey,l_partkey,l_suppkey,l_linenumber)",
          li, Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")))
        .reduce(_ unionByName _)
        .orderBy("candidate_key")
    },
    Some {
      def prof(name: String, table: String, keys: String) =
        s"""SELECT '$name' AS candidate_key,
               CAST(sum(k) AS BIGINT) AS n_rows,
               count(*) AS n_distinct,
               CAST(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_keys,
               CAST(sum(CASE WHEN k > 1 THEN k ELSE 0 END) AS DOUBLE)
                 / CAST(sum(k) AS DOUBLE) AS dup_row_share
            FROM (SELECT count(*) AS k FROM $table GROUP BY $keys)"""
      Seq(
        prof("orders.o_orderkey", "orders", "o_orderkey"),
        prof("customer.c_custkey", "customer", "c_custkey"),
        prof("lineitem.(l_orderkey,l_linenumber)", "lineitem",
          "l_orderkey, l_linenumber"),
        prof("lineitem.(l_orderkey,l_partkey,l_suppkey,l_linenumber)",
          "lineitem", "l_orderkey, l_partkey, l_suppkey, l_linenumber"))
        .mkString("SELECT * FROM (", " UNION ALL ",
          ") ORDER BY candidate_key")
    })

  /** Lorenz curve — the distribution CURVE behind q_agg_gini's scalar
    * (gini says HOW concentrated; the Lorenz deciles say WHERE — "the
    * top decile holds 40% of revenue" is the actionable readout):
    * customers ranked by exact lifetime cents via Prefix.globalRank (64
    * range buckets — no partition-less window over the entity table),
    * decile = integer rank math, per-decile exact cent sums, cumulative
    * share via a 10-row prefix (bounded — the decile axis). Shares are
    * single divisions of exact integers.
    */
  val qAggLorenz = Q(
    "q_agg_lorenz",
    (s, dir) => {
      val spend = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(Det.cents("o_totalprice")).as("c"))
      val ranked = Prefix.globalRank(
        Prefix.withRangeBucket(spend, col("c"), 64, "__b"),
        "__b", Seq(col("c"), col("o_custkey")), bucketDesc = false, "rk")
      val n = spend.agg(count(lit(1)).as("n_cust"),
        sum(col("c")).as("tot"))
      val dec = ranked.crossJoin(broadcast(n))
        .withColumn("decile", expr(
          "least(((rk - 1) * 10) DIV n_cust, 9)"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_in_decile"), sum(col("c")).as("dc"),
          first(col("tot")).as("tot"))
      val w10 = Window.orderBy("decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dec
        .withColumn("cum", sum(col("dc")).over(w10))
        .select(col("decile"), col("n_in_decile"),
          expr("CAST(dc AS DOUBLE) / CAST(tot AS DOUBLE)")
            .as("decile_share"),
          expr("CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE)")
            .as("cum_share"))
        .orderBy("decile")
    },
    Some(s"""WITH spend AS (SELECT o_custkey,
                    CAST(SUM(${Det.sqlCents("o_totalprice")})
                      AS BIGINT) AS c
                  FROM orders GROUP BY o_custkey),
             rkd AS (SELECT c, CAST(row_number() OVER (
                       ORDER BY c, o_custkey) AS BIGINT) AS rk
                     FROM spend),
             nt AS (SELECT count(*) AS n_cust,
                      CAST(sum(c) AS HUGEINT) AS tot FROM spend),
             dec AS (SELECT least(((rk - 1) * 10) // n_cust, 9) AS decile,
                       count(*) AS n_in_decile,
                       CAST(sum(c) AS HUGEINT) AS dc, first(tot) AS tot
                     FROM rkd CROSS JOIN nt GROUP BY 1)
            SELECT decile, n_in_decile,
                   CAST(dc AS DOUBLE) / CAST(tot AS DOUBLE)
                     AS decile_share,
                   CAST(sum(dc) OVER (ORDER BY decile
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS DOUBLE) / CAST(tot AS DOUBLE) AS cum_share
            FROM dec ORDER BY decile"""))

  /** Cramér's V — the EFFECT-SIZE companion to q_agg_chi2 (χ² says
    * "dependence exists" and grows with N; V = √(χ²/(N·(min(r,c)−1)))
    * is the 0..1 strength that is comparable ACROSS datasets — the
    * number a feature-selection report actually ranks by): reuses the
    * exact-integer contingency math, per-cell contributions Dec12-
    * quantized so their SUM is order-free (q_agg_chi2 leaves per-cell
    * rows for consumers precisely because a raw double fold is order-
    * dependent — this operator IS that consumer, done by doctrine),
    * dims counted exactly, one shared final formula.
    */
  val qAggCramersV = Q(
    "q_agg_cramers_v",
    (s, dir) => {
      val joined = Tables.orders(s, dir)
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"),
          col("o_orderpriority").as("pri"))
      val cells = joined.groupBy("seg", "pri")
        .agg(count(lit(1)).as("o"))
      val rowTot = cells.groupBy("seg").agg(sum(col("o")).as("r"))
      val colTot = cells.groupBy("pri").agg(sum(col("o")).as("c"))
      val n = cells.agg(sum(col("o")).as("n"),
        countDistinct(col("seg")).as("nr"),
        countDistinct(col("pri")).as("nc"))
      cells
        .join(broadcast(rowTot), "seg")
        .join(broadcast(colTot), "pri")
        .crossJoin(broadcast(n))
        .agg(
          // operands promoted to DOUBLE BEFORE multiplying (ADVICE r12):
          // o*n and n*r*c in BIGINT wrap past 2^63 (reachable at large N)
          // while DuckDB's sum() promotes to HUGEINT and doesn't — both
          // engines must take the same double-arithmetic path.
          sum(expr(
            "CAST((CAST(o AS DOUBLE) * CAST(n AS DOUBLE) " +
              "- CAST(r AS DOUBLE) * CAST(c AS DOUBLE)) " +
              "* (CAST(o AS DOUBLE) * CAST(n AS DOUBLE) " +
              "- CAST(r AS DOUBLE) * CAST(c AS DOUBLE)) " +
              "/ (CAST(n AS DOUBLE) * CAST(r AS DOUBLE) " +
              "* CAST(c AS DOUBLE)) AS DECIMAL(38,12))")
          ).cast("double").as("chi2"),
          first(col("n")).as("n"), first(col("nr")).as("nr"),
          first(col("nc")).as("nc"))
        .select(expr("CAST(n AS BIGINT)").as("n"),
          col("chi2"),
          expr("sqrt(chi2 / (CAST(n AS DOUBLE) * " +
            "CAST(least(nr, nc) - 1 AS DOUBLE)))").as("cramers_v"))
    },
    Some("""WITH j AS (SELECT c_mktsegment AS seg,
                    o_orderpriority AS pri
                  FROM orders JOIN customer ON o_custkey = c_custkey),
             cells AS (SELECT seg, pri, count(*) AS o FROM j
                       GROUP BY seg, pri),
             rt AS (SELECT seg, sum(o) AS r FROM cells GROUP BY seg),
             ct AS (SELECT pri, sum(o) AS c FROM cells GROUP BY pri),
             nt AS (SELECT sum(o) AS n, count(DISTINCT seg) AS nr,
                      count(DISTINCT pri) AS nc FROM cells),
             x AS (SELECT
                    CAST(sum(CAST(
                      (CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
                       - CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
                      * (CAST(o AS DOUBLE) * CAST(n AS DOUBLE)
                         - CAST(r AS DOUBLE) * CAST(c AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(r AS DOUBLE)
                         * CAST(c AS DOUBLE))
                      AS DECIMAL(38,12))) AS DOUBLE) AS chi2,
                    first(n) AS n, first(nr) AS nr, first(nc) AS nc
                  FROM cells JOIN rt ON cells.seg = rt.seg
                             JOIN ct ON cells.pri = ct.pri
                             CROSS JOIN nt)
            SELECT CAST(n AS BIGINT) AS n, chi2,
                   sqrt(chi2 / (CAST(n AS DOUBLE) *
                     CAST(least(nr, nc) - 1 AS DOUBLE))) AS cramers_v
            FROM x"""))

  /** Token burstiness — the dispersion index D = variance/mean of a
    * token's per-document counts (the corpus-linguistics signal that
    * separates TOPICAL terms, which cluster in few docs (D ≫ 1), from
    * FUNCTION words spread evenly (D ≈ 1 under Poisson) — a tf-idf-
    * orthogonal keyword/stopword discriminator): for the corpus top-20
    * tokens, exact integer sums of per-doc counts and squares over ALL
    * docs (absent docs contribute exact zeros through n_docs, never a
    * scan of the zero set), population variance via the covar-doctrine
    * cross-multiply, D as ONE shared division. Vocabulary-bounded aggs
    * + a broadcast top-k semi-join.
    */
  val qTextBurstiness = Q(
    "q_text_burstiness",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val perDoc = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .where(col("tok") =!= "")
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("k"))
      val top = perDoc.groupBy("tok").agg(sum(col("k")).as("f"))
        .orderBy(col("f").desc, col("tok")).limit(20)
        .select(col("tok"), col("f"))
      val nd = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
      perDoc.join(broadcast(top), "tok")
        .groupBy("tok")
        .agg(first(col("f")).as("f"),
          count(lit(1)).as("n_docs_with"),
          sum(col("k")).as("sk"),
          sum(col("k") * col("k")).as("skk"))
        .crossJoin(broadcast(nd))
        .select(col("tok"), col("f"), col("n_docs_with"),
          expr("CAST(sk AS DOUBLE) / CAST(n_docs AS DOUBLE)").as("mean_k"),
          expr("(CAST(n_docs AS DOUBLE) * CAST(skk AS DOUBLE) " +
            "- CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE)) " +
            "/ (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))")
            .as("var_k"),
          expr("CASE WHEN sk > 0 THEN " +
            "((CAST(n_docs AS DOUBLE) * CAST(skk AS DOUBLE) " +
            "- CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE)) " +
            "/ (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))) " +
            "/ (CAST(sk AS DOUBLE) / CAST(n_docs AS DOUBLE)) " +
            "ELSE NULL END").as("burstiness"))
        .orderBy(col("f").desc, col("tok"))
    },
    Some("""WITH tok AS (SELECT doc_id, w AS tok
                  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                        FROM documents) WHERE w <> ''),
             pd AS (SELECT doc_id, tok, count(*) AS k FROM tok
                    GROUP BY doc_id, tok),
             top AS (SELECT tok, CAST(sum(k) AS BIGINT) AS f FROM pd
                     GROUP BY tok ORDER BY f DESC, tok LIMIT 20),
             nd AS (SELECT count(DISTINCT doc_id) AS n_docs
                    FROM documents),
             m AS (SELECT pd.tok, first(f) AS f,
                     count(*) AS n_docs_with,
                     CAST(sum(k) AS BIGINT) AS sk,
                     CAST(sum(k * k) AS BIGINT) AS skk
                   FROM pd JOIN top ON pd.tok = top.tok
                   GROUP BY pd.tok)
            SELECT tok, f, n_docs_with,
                   CAST(sk AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_k,
                   (CAST(n_docs AS DOUBLE) * CAST(skk AS DOUBLE)
                     - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE))
                     / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))
                     AS var_k,
                   CASE WHEN sk > 0 THEN
                     ((CAST(n_docs AS DOUBLE) * CAST(skk AS DOUBLE)
                       - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE))
                       / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)))
                     / (CAST(sk AS DOUBLE) / CAST(n_docs AS DOUBLE))
                   ELSE NULL END AS burstiness
            FROM m CROSS JOIN nd
            ORDER BY f DESC, tok"""))

  /** Wald–Wolfowitz runs test — the RANDOMNESS member of the inferential
    * family (t = means, U = dominance, KS = shape, χ² = categorical,
    * CUSUM = when; this asks IS THE SEQUENCE RANDOM AT ALL — trending
    * and oscillating series both fail it): per flag, daily revenue
    * classified above/below the flag's median (6-decimal-rounded fence,
    * winsorize doctrine; exact-median days dropped, the standard
    * treatment), R = count of sign runs via a lag window over the
    * calendar-day axis, and the large-sample z from the classic
    * μ = 2n₁n₂/(n₁+n₂)+1 / σ² formulas as ONE shared text over doubles
    * of exact integers. Scale: daily rollup is the only exchange; the
    * run count is an O(days) flag-partitioned lag; totals are one
    * bounded aggregate.
    */
  val qAggRunsTest = Q(
    "q_agg_runs_test",
    (s, dir) => {
      val zFml =
        "CASE WHEN n1 = 0 OR n2 = 0 THEN NULL ELSE " +
          "(CAST(r AS DOUBLE) - (2.0 * n1 * n2 / (n1 + n2) + 1.0)) / " +
          "sqrt((2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)) / " +
          "((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))) END"
      val w = Window.partitionBy("flag").orderBy("d")
      val daily = Det.dailyCents(s, dir, "y")
      val fences = daily.groupBy("flag")
        .agg(round(expr("percentile(y, 0.5)"), 6).as("med"))
      daily.join(broadcast(fences), "flag")
        .where(expr("CAST(y AS DOUBLE) <> med"))
        .withColumn("sgn",
          expr("CASE WHEN CAST(y AS DOUBLE) > med THEN 1 ELSE 0 END"))
        .withColumn("brk",
          when(lag(col("sgn"), 1).over(w).isNull ||
            lag(col("sgn"), 1).over(w) =!= col("sgn"), 1L).otherwise(0L))
        .groupBy("flag")
        .agg(sum(expr("CAST(sgn AS BIGINT)")).as("n1l"),
          sum(expr("CAST(1 - sgn AS BIGINT)")).as("n2l"),
          sum(col("brk")).as("r"))
        .select(col("flag"), col("n1l").as("n_above"),
          col("n2l").as("n_below"), col("r").as("runs"),
          expr("CAST(n1l AS DOUBLE)").as("n1"),
          expr("CAST(n2l AS DOUBLE)").as("n2"), col("r"))
        .select(col("flag"), col("n_above"), col("n_below"), col("runs"),
          expr(zFml).as("z"))
        .orderBy("flag")
    },
    Some {
      val zFml =
        """CASE WHEN n1 = 0 OR n2 = 0 THEN NULL ELSE
           (CAST(r AS DOUBLE) - (2.0 * n1 * n2 / (n1 + n2) + 1.0)) /
           sqrt((2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)) /
           ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))) END"""
      s"""WITH daily AS (${Det.sqlDailyCents("y")}),
             fences AS (SELECT flag,
                    round(quantile_cont(y, 0.5), 6) AS med
                  FROM daily GROUP BY flag),
             cls AS (SELECT daily.flag, d,
                    CASE WHEN CAST(y AS DOUBLE) > med THEN 1 ELSE 0 END
                      AS sgn
                  FROM daily JOIN fences ON daily.flag = fences.flag
                  WHERE CAST(y AS DOUBLE) <> med),
             b AS (SELECT flag, sgn,
                    CASE WHEN lag(sgn, 1) OVER w IS NULL
                           OR lag(sgn, 1) OVER w <> sgn
                         THEN 1 ELSE 0 END AS brk
                  FROM cls
                  WINDOW w AS (PARTITION BY flag ORDER BY d)),
             t AS (SELECT flag,
                    CAST(sum(sgn) AS BIGINT) AS n_above,
                    CAST(sum(1 - sgn) AS BIGINT) AS n_below,
                    CAST(sum(brk) AS BIGINT) AS runs,
                    CAST(sum(sgn) AS DOUBLE) AS n1,
                    CAST(sum(1 - sgn) AS DOUBLE) AS n2,
                    CAST(sum(brk) AS BIGINT) AS r
                  FROM b GROUP BY flag)
            SELECT flag, n_above, n_below, runs, $zFml AS z
            FROM t ORDER BY flag"""
    })

  /** Shared formula text for the PCA power iteration (see qAggPcaPower):
    * one symmetric 3×3 matrix-vector multiply plus the L2 normalizer.
    * Generated once and spliced into BOTH engines so every double op is
    * textually identical (all ops are IEEE correctly-rounded *, +, /,
    * sqrt — bit-exact across engines over identical operands).
    */
  private val pcaMul = Seq(
    "c11 * v1 + c12 * v2 + c13 * v3",
    "c12 * v1 + c22 * v2 + c23 * v3",
    "c13 * v1 + c23 * v2 + c33 * v3")
  private val pcaNrm = "sqrt(w1 * w1 + w2 * w2 + w3 * w3)"

  /** Principal component via POWER ITERATION — PCA's top factor without
    * any ML library (the dimensionality/anomaly-axis readout the covar
    * matrix feeds): the exact-integer moment row (q_agg_covar_matrix
    * doctrine — ONE map-side-combinable aggregate) yields the 3×3
    * population covariance of (quantity, price cents, discount
    * permille); 8 in-plan power steps v ← normalize(C·v) from the fixed
    * start (1,1,1)/√3 run on that SINGLE row as column arithmetic —
    * each step is a projection, so the whole iteration is O(1) work
    * after the one scan; λ = v·Cv (Rayleigh), var share = λ/trace.
    * Determinism: every step is shared formula text over identical
    * doubles (no ln — *, +, /, sqrt are correctly rounded in both
    * engines), so the output is bit-exact with no Dec12 rounding needed.
    * The fixed positive start + dominant-eigenvalue gap make the sign
    * and the 8-step trajectory fully deterministic.
    */
  val qAggPcaPower = Q(
    "q_agg_pca_power",
    (s, dir) => {
      def dsum(e: String) = sum(expr(e).cast(Dec0))
      val moments = Tables.lineitem(s, dir)
        .select(col("l_quantity").cast("long").as("x"),
          Det.cents("l_extendedprice").as("y"),
          expr("CAST(floor(l_discount * CAST(1000.0 AS DOUBLE) " +
            "+ CAST(0.5 AS DOUBLE)) AS BIGINT)").as("z"))
        .agg(count(lit(1)).as("n"),
          dsum("x").as("sx"), dsum("y").as("sy"), dsum("z").as("sz"),
          dsum("x * x").as("sxx"), dsum("y * y").as("syy"),
          dsum("z * z").as("szz"), dsum("x * y").as("sxy"),
          dsum("x * z").as("sxz"), dsum("y * z").as("syz"))
      var it = moments.select(col("n"),
        expr(covFml("sxx", "sx", "sx")).as("c11"),
        expr(covFml("syy", "sy", "sy")).as("c22"),
        expr(covFml("szz", "sz", "sz")).as("c33"),
        expr(covFml("sxy", "sx", "sy")).as("c12"),
        expr(covFml("sxz", "sx", "sz")).as("c13"),
        expr(covFml("syz", "sy", "sz")).as("c23"))
        .withColumn("v1", expr("1.0 / sqrt(3.0)"))
        .withColumn("v2", expr("1.0 / sqrt(3.0)"))
        .withColumn("v3", expr("1.0 / sqrt(3.0)"))
      for (_ <- 1 to 8) {
        it = it
          .withColumn("w1", expr(pcaMul(0)))
          .withColumn("w2", expr(pcaMul(1)))
          .withColumn("w3", expr(pcaMul(2)))
          .withColumn("nrm", expr(pcaNrm))
          .withColumn("v1", expr("w1 / nrm"))
          .withColumn("v2", expr("w2 / nrm"))
          .withColumn("v3", expr("w3 / nrm"))
          .drop("w1", "w2", "w3", "nrm")
      }
      it
        .withColumn("w1", expr(pcaMul(0)))
        .withColumn("w2", expr(pcaMul(1)))
        .withColumn("w3", expr(pcaMul(2)))
        .select(col("n"),
          expr("w1 * v1 + w2 * v2 + w3 * v3").as("lam"),
          col("v1"), col("v2"), col("v3"),
          expr("(w1 * v1 + w2 * v2 + w3 * v3) / (c11 + c22 + c33)")
            .as("var_frac"))
    },
    Some {
      val iterCtes = (1 to 8).map { k =>
        val prev = if (k == 1) "it0" else s"it${k - 1}"
        s"""it$k AS (SELECT n, c11, c22, c33, c12, c13, c23,
                 w1 / nrm AS v1, w2 / nrm AS v2, w3 / nrm AS v3
               FROM (SELECT *, $pcaNrm AS nrm
                     FROM (SELECT *, ${pcaMul(0)} AS w1,
                             ${pcaMul(1)} AS w2, ${pcaMul(2)} AS w3
                           FROM $prev)))"""
      }.mkString(",\n             ")
      s"""WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS x,
                    ${Det.sqlCents("l_extendedprice")} AS y,
                    CAST(floor(l_discount * CAST(1000.0 AS DOUBLE)
                      + CAST(0.5 AS DOUBLE)) AS BIGINT) AS z
                  FROM lineitem),
             m AS (SELECT count(*) AS n,
                     SUM(CAST(x AS DECIMAL(38,0))) AS sx,
                     SUM(CAST(y AS DECIMAL(38,0))) AS sy,
                     SUM(CAST(z AS DECIMAL(38,0))) AS sz,
                     SUM(CAST(x * x AS DECIMAL(38,0))) AS sxx,
                     SUM(CAST(y * y AS DECIMAL(38,0))) AS syy,
                     SUM(CAST(z * z AS DECIMAL(38,0))) AS szz,
                     SUM(CAST(x * y AS DECIMAL(38,0))) AS sxy,
                     SUM(CAST(x * z AS DECIMAL(38,0))) AS sxz,
                     SUM(CAST(y * z AS DECIMAL(38,0))) AS syz
                   FROM b),
             it0 AS (SELECT n,
                     ${covFml("sxx", "sx", "sx")} AS c11,
                     ${covFml("syy", "sy", "sy")} AS c22,
                     ${covFml("szz", "sz", "sz")} AS c33,
                     ${covFml("sxy", "sx", "sy")} AS c12,
                     ${covFml("sxz", "sx", "sz")} AS c13,
                     ${covFml("syz", "sy", "sz")} AS c23,
                     1.0 / sqrt(3.0) AS v1, 1.0 / sqrt(3.0) AS v2,
                     1.0 / sqrt(3.0) AS v3
                   FROM m),
             $iterCtes
            SELECT n, w1 * v1 + w2 * v2 + w3 * v3 AS lam, v1, v2, v3,
                   (w1 * v1 + w2 * v2 + w3 * v3) / (c11 + c22 + c33)
                     AS var_frac
            FROM (SELECT *, ${pcaMul(0)} AS w1, ${pcaMul(1)} AS w2,
                    ${pcaMul(2)} AS w3
                  FROM it8)"""
    })

  /** Hampel filter — the robust rolling outlier detector (median ± MAD
    * over a centered 7-day frame; the despike step before any
    * time-series model, immune to the outliers a rolling mean ± σ is
    * dragged by): daily exact-cents revenue per flag, frame median and
    * MAD as SORTED-ARRAY elements (the q_win_rolling_median doctrine —
    * no interpolation, all integers), outlier when |v − med| > 3·MAD in
    * pure integer comparison. Interior (full-frame) rows only. The
    * window rides the calendar-bounded daily rollup — O(days) per flag.
    */
  val qWinHampel = Q(
    "q_win_hampel",
    (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority").as("flag"),
          to_date(col("o_orderdate")).as("d"))
        .agg(sum(Det.cents("o_totalprice")).as("v"))
      val w = Window.partitionBy(col("flag")).orderBy(col("d"))
        .rowsBetween(-3, 3)
      daily
        .withColumn("arr", sort_array(collect_list(col("v")).over(w)))
        .where(size(col("arr")) === 7)
        .withColumn("med", element_at(col("arr"), 4))
        .withColumn("mad", expr(
          "element_at(array_sort(transform(arr, e -> abs(e - med))), 4)"))
        .select(col("flag"),
          col("d").cast(org.apache.spark.sql.types.TimestampType).as("d"),
          col("v"), col("med"), col("mad"),
          (abs(col("v") - col("med")) > col("mad") * 3).as("is_outlier"))
        .orderBy("flag", "d")
    },
    Some(s"""WITH daily AS (SELECT o_orderpriority AS flag,
                    CAST(o_orderdate AS DATE) AS d,
                    CAST(sum(${Det.sqlCents("o_totalprice")}) AS BIGINT) AS v
                  FROM orders GROUP BY 1, 2),
             f AS (SELECT flag, d, v,
                     list_sort(list(v) OVER (PARTITION BY flag ORDER BY d
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) AS arr
                   FROM daily),
             g AS (SELECT flag, d, v, arr[4] AS med
                   FROM f WHERE len(arr) = 7),
             h AS (SELECT flag, d, v, med,
                     list_sort(list_transform(arr, e -> abs(e - med)))[4]
                       AS mad
                   FROM (SELECT f.flag, f.d, f.v, g.med, f.arr
                         FROM f JOIN g ON f.flag = g.flag AND f.d = g.d))
            SELECT flag, CAST(d AS TIMESTAMP) AS d, v, med, mad,
                   abs(v - med) > mad * 3 AS is_outlier
            FROM h ORDER BY flag, d"""))

  /** Fixed-width record roundtrip — the mainframe/legacy-feed ingestion
    * path (COBOL copybook layouts, bank settlement files): orders
    * serialized to 37-char zero-padded records, written as plain text
    * from the plan, read back with spark.read.text and parsed by
    * SUBSTRING offsets into typed columns, aggregated per status. The
    * oracle builds and parses the identical string from the source
    * table — the hash match proves the format spec + text file trip +
    * offset parse are jointly lossless. Per-row projection; the text
    * codec never shuffles.
    */
  val qSourceFixedWidth = Q(
    "q_source_fixed_width",
    (s, dir) => {
      val rec =
        "concat(lpad(CAST(o_orderkey AS STRING), 12, '0'), " +
          "rpad(o_orderstatus, 1, ' '), " +
          s"lpad(CAST(${Det.sqlCents("o_totalprice")} AS STRING), 14, '0'), " +
          "CAST(CAST(o_orderdate AS DATE) AS STRING))"
      val path = graft.sources.SourcesSinks
        .dirKeyedTempPath(s, dir, "fixed_width_orders")
      Tables.orders(s, dir).select(expr(rec).as("value"))
        .write.mode("overwrite").text(path)
      s.read.text(path)
        .select(
          substring(col("value"), 1, 12).cast("long").as("okey"),
          trim(substring(col("value"), 13, 1)).as("status"),
          substring(col("value"), 14, 14).cast("long").as("cents"),
          substring(col("value"), 28, 10).cast("date").as("d"))
        .groupBy("status")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
          min(col("okey")).as("min_key"),
          max(col("d")).cast(org.apache.spark.sql.types.TimestampType)
            .as("max_d"))
        .orderBy("status")
    },
    Some(s"""WITH r AS (SELECT lpad(CAST(o_orderkey AS VARCHAR), 12, '0')
                    || rpad(o_orderstatus, 1, ' ')
                    || lpad(CAST(${Det.sqlCents("o_totalprice")} AS VARCHAR),
                      14, '0')
                    || CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS v
                  FROM orders),
             p AS (SELECT CAST(substr(v, 1, 12) AS BIGINT) AS okey,
                     trim(substr(v, 13, 1)) AS status,
                     CAST(substr(v, 14, 14) AS BIGINT) AS cents,
                     CAST(substr(v, 28, 10) AS DATE) AS d
                   FROM r)
            SELECT status, count(*) AS n,
                   CAST(sum(cents) AS BIGINT) AS sum_cents,
                   min(okey) AS min_key,
                   CAST(max(d) AS TIMESTAMP) AS max_d
            FROM p GROUP BY status ORDER BY status"""))

  /** χ² independence test — the categorical-dependence readout next to
    * the numeric family (corr, covar matrix, regression): the full
    * (market segment × order priority) contingency table with observed
    * count, expected count under independence, and the cell's χ²
    * contribution. All counting is exact integers; the only floats are
    * SHARED formula text per cell — expected = (R·C)/N is one division
    * of exact ints (R·C ≤ 2.25e10 < 2^53, so the double operands are
    * exact), contrib = (d·d)/(N·R·C) with d = O·N − R·C (each IEEE op
    * correctly rounded over identical operands → bit-identical across
    * engines; d² may exceed 2^53 so it must NOT be computed in int64 —
    * long overflow — nor demanded exact). The cell grid is bounded
    * (|segments|·|priorities|), so the row/col/grand totals are
    * broadcast joins, never a partition-less window. Consumers sum
    * `contrib` for the statistic (25 cells — or fold in sorted order if
    * bit-exactness of the sum matters, per the §7.2 doctrine).
    */
  val qAggChi2 = Q(
    "q_agg_chi2",
    (s, dir) => {
      val joined = Tables.orders(s, dir)
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"),
          col("o_orderpriority").as("pri"))
      val cells = joined.groupBy("seg", "pri")
        .agg(count(lit(1)).as("o"))
      val rowTot = cells.groupBy("seg").agg(sum(col("o")).as("r"))
      val colTot = cells.groupBy("pri").agg(sum(col("o")).as("c"))
      val n = cells.agg(sum(col("o")).as("n"))
      cells
        .join(broadcast(rowTot), "seg")
        .join(broadcast(colTot), "pri")
        .crossJoin(broadcast(n))
        .withColumn("expected",
          expr("CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("contrib", expr(
          "CAST(o * n - r * c AS DOUBLE) * CAST(o * n - r * c AS DOUBLE)" +
            " / CAST(n * r * c AS DOUBLE)"))
        .select(col("seg"), col("pri"), col("o"), col("expected"),
          col("contrib"))
        .orderBy("seg", "pri")
    },
    Some("""WITH j AS (SELECT c_mktsegment AS seg,
                    o_orderpriority AS pri
                  FROM orders JOIN customer ON o_custkey = c_custkey),
             cells AS (SELECT seg, pri, count(*) AS o FROM j
                       GROUP BY seg, pri),
             rt AS (SELECT seg, sum(o) AS r FROM cells GROUP BY seg),
             ct AS (SELECT pri, sum(o) AS c FROM cells GROUP BY pri),
             nt AS (SELECT sum(o) AS n FROM cells)
            SELECT cells.seg, cells.pri, o,
                   CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE) AS expected,
                   CAST(o * n - r * c AS DOUBLE)
                     * CAST(o * n - r * c AS DOUBLE)
                     / CAST(n * r * c AS DOUBLE) AS contrib
            FROM cells JOIN rt ON cells.seg = rt.seg
                       JOIN ct ON cells.pri = ct.pri
                       CROSS JOIN nt
            ORDER BY cells.seg, cells.pri"""))

  /** Two-sample Kolmogorov–Smirnov test — the distribution-shift
    * readout over CONTINUOUS values (corpus_drift's TV distance is its
    * categorical sibling): D = sup_x |F₁(x) − F₂(x)| between the
    * returned ('R') and never-returned ('N') price distributions.
    * Everything up to the final division is EXACT integers: at each
    * distinct value, |n₂·C₁(x) − n₁·C₂(x)| (counts ≤ 2²⁶ even at 100 TB
    * partitions, products fit int64), the sup is an integer max, D is
    * ONE shared-text division, and the max's location is min(v) at the
    * argmax (deterministic tie-break). The cumulative counts C_g(x) ride
    * Prefix.runningSum (64 monotone range buckets — NO partition-less
    * window; the oracle keeps the naive single-window cumsum, so the
    * hash match re-proves the decomposition exact on long-sum carriers
    * just as q_win_pareto_abc proves it on decimals). One extra trick:
    * both groups' cumsums ride ONE bucketed frame (two runningSum
    * passes), so the value axis is scanned once.
    */
  val qAggKsTest = Q(
    "q_agg_ks_test",
    (s, dir) => {
      // r22 (verdict #1, guide §2.4): the two cumsums ride ONE
      // runningSums pass — the chained form planned the pv subtree 2×
      // per call (9 copies of the corpus aggregate in the committed
      // 675-line before-plan) and paid a second per-bucket window +
      // offsets join. Same window spec, same per-column arithmetic, so
      // c1c/c2c are value-identical; the identical pv aggregate
      // exchanges are deduped by ReusedExchange at runtime (an eager
      // pin was A/B'd and LOST in-box: 2-3 checkpoint jobs cost more
      // than the planning they saved — see OPTIMIZATION_r22.md).
      val pv = Tables.lineitem(s, dir)
        .where(col("l_returnflag").isin("R", "N"))
        .select(col("l_extendedprice").as("v"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("g1"),
          when(col("l_returnflag") === "N", 1L).otherwise(0L).as("g2"))
        .groupBy("v")
        .agg(sum(col("g1")).as("c1"), sum(col("g2")).as("c2"))
      val bucketed = Prefix.withRangeBucket(pv, col("v"), 64, "__b")
      val cum = Prefix.runningSums(bucketed, "__b", Seq(col("v")),
        bucketDesc = false, Seq(col("c1") -> "c1c", col("c2") -> "c2c"))
      val n = pv.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      val d = cum.crossJoin(broadcast(n))
        .withColumn("dnum",
          abs(col("n2") * col("c1c") - col("n1") * col("c2c")))
      // single-pass struct ARGMAX (r18), not max-then-rejoin: the
      // rejoin re-executed the whole bucketed double-cumsum chain a
      // second time — half the query's sf0.1 wall. min(v) at the max
      // rides the struct as a negated tie-break component (IEEE sign
      // flip is exact).
      d.groupBy("n1", "n2")
        .agg(max(struct(col("dnum").as("d_num"), (-col("v")).as("nv")))
          .as("m"))
        .select(col("n1"), col("n2"), col("m.d_num").as("d_num"),
          (-col("m.nv")).as("at_v"))
        .withColumn("d", expr(
          "CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"))
        .select("n1", "n2", "d_num", "d", "at_v")
    },
    Some("""WITH x AS (SELECT l_extendedprice AS v,
                    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g1,
                    CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS g2
                  FROM lineitem WHERE l_returnflag IN ('R', 'N')),
             pv AS (SELECT v, CAST(sum(g1) AS BIGINT) AS c1,
                          CAST(sum(g2) AS BIGINT) AS c2
                    FROM x GROUP BY v),
             cum AS (SELECT v,
                       CAST(sum(c1) OVER (ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) AS c1c,
                       CAST(sum(c2) OVER (ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) AS c2c
                     FROM pv),
             n AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                          CAST(sum(c2) AS BIGINT) AS n2 FROM pv),
             dd AS (SELECT v,
                      CAST(abs(n2 * c1c - n1 * c2c) AS BIGINT) AS dnum
                    FROM cum CROSS JOIN n),
             md AS (SELECT CAST(max(dnum) AS BIGINT) AS d_num FROM dd)
            SELECT n1, n2, d_num,
                   CAST(d_num AS DOUBLE)
                     / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)) AS d,
                   min(v) AS at_v
            FROM dd JOIN md ON dd.dnum = md.d_num CROSS JOIN n
            GROUP BY n1, n2, d_num"""))

  /** CUSUM change-point detection — the TIME-axis sibling of
    * q_agg_ks_test (KS asks "are two cohorts' distributions different";
    * CUSUM asks "WHEN did this series' level shift" — the alert every
    * metric monitor and corpus-drift tracker wants): per return flag,
    * the maximum excursion of the centered cumulative sum of daily
    * revenue, in the integer-exact normalization E_k = |n·S_k − k·S_n|
    * (≡ n·S_n · |CUSUM_k| without any division — the same cross-multiply
    * trick as KS), argmax located as min(day) at the max, and the
    * normalized statistic is ONE shared-text division at the end.
    * NOTE (constant-cardinality partitions): the window partitions on
    * the flag domain but each partition is the CALENDAR-day axis —
    * O(days), dataset-bounded (the inventory_backlog justification);
    * int64 carries n·S_k up to ~10¹⁶ at these scales — swap to
    * DECIMAL(38,0) carriers if a deployment's day-sums push past 10¹⁵.
    */
  val qChangepointCusum = Q(
    "q_changepoint_cusum",
    (s, dir) => {
      val win = Window.partitionBy("flag").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val daily = Det.dailyCents(s, dir, "v")
      val pref = daily
        .withColumn("sk", sum(col("v")).over(win))
        .withColumn("k", row_number().over(
          Window.partitionBy("flag").orderBy("d")))
      val tot = daily.groupBy("flag")
        .agg(sum(col("v")).as("sn"), count(lit(1)).as("n"))
      val exc = pref.join(broadcast(tot), "flag")
        .withColumn("e", abs(col("n") * col("sk") - col("k") * col("sn")))
      val emax = exc.groupBy("flag").agg(max(col("e")).as("e_max"))
        .withColumnRenamed("flag", "mflag")
      exc.join(broadcast(emax),
          col("flag") === col("mflag") && col("e") === col("e_max"))
        .groupBy(col("flag"), col("e_max"), col("n").as("n_days"),
          col("sn"))
        .agg(min(col("d")).as("at_d"))
        .select(col("flag"), col("n_days"),
          col("at_d").cast(org.apache.spark.sql.types.TimestampType)
            .as("at_d"),
          col("e_max"),
          expr("CAST(e_max AS DOUBLE) / " +
            "(CAST(n_days AS DOUBLE) * CAST(sn AS DOUBLE))").as("stat"))
        .orderBy("flag")
    },
    Some(s"""WITH daily AS (${Det.sqlDailyCents("v")}),
             pref AS (SELECT flag, d, v,
                 CAST(sum(v) OVER (PARTITION BY flag ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS sk,
                 CAST(row_number() OVER (PARTITION BY flag ORDER BY d)
                   AS BIGINT) AS k
               FROM daily),
             tot AS (SELECT flag, CAST(sum(v) AS BIGINT) AS sn,
                            CAST(count(*) AS BIGINT) AS n
                     FROM daily GROUP BY flag),
             exc AS (SELECT p.flag, p.d,
                       CAST(abs(t.n * p.sk - p.k * t.sn) AS BIGINT) AS e,
                       t.n, t.sn
                     FROM pref p JOIN tot t ON p.flag = t.flag),
             em AS (SELECT flag, CAST(max(e) AS BIGINT) AS e_max
                    FROM exc GROUP BY flag)
            SELECT exc.flag, n AS n_days,
                   CAST(min(d) AS TIMESTAMP) AS at_d, em.e_max,
                   CAST(em.e_max AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(sn AS DOUBLE)) AS stat
            FROM exc JOIN em ON exc.flag = em.flag AND exc.e = em.e_max
            GROUP BY exc.flag, n, sn, em.e_max
            ORDER BY exc.flag"""))

  /** Day-of-week seasonal decomposition (STL-lite) — the
    * detrend-then-average seasonality readout behind weekly-pattern
    * normalization (staffing curves, "is Monday really slower" — and
    * de-weekending a metric before change-point/trend tests): per
    * flag×weekday, the mean DETRENDED daily revenue, where the trend is
    * a centered 7-day moving average and the residual is kept
    * integer-exact by the scaling trick residual·7 = 7·v − Σ₇v (no
    * per-row division, no float accumulation — the CUSUM/KS
    * cross-multiply doctrine on the window axis). Edge days (partial
    * 7-frames) are EXCLUDED (n7 = 7 filter) so the scale factor is a
    * constant and the final seasonal index is ONE shared-text division
    * Σ(7v − Σ₇v) / (7·n). Same calendar-bounded partition posture as
    * q_changepoint_cusum.
    */
  val qSeasonalDow = Q(
    "q_seasonal_dow",
    (s, dir) => {
      val frame = Window.partitionBy("flag").orderBy("d").rowsBetween(-3, 3)
      val daily = Det.dailyCents(s, dir, "v")
      daily
        .withColumn("s7", sum(col("v")).over(frame))
        .withColumn("n7", count(lit(1)).over(frame))
        .where(col("n7") === 7)
        .groupBy(col("flag"), weekday(col("d")).as("dow"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("v") * 7 - col("s7")).as("resid7"))
        .withColumn("seasonal", expr(
          "CAST(resid7 AS DOUBLE) / (CAST(7 AS DOUBLE) " +
            "* CAST(n_days AS DOUBLE))"))
        .select("flag", "dow", "n_days", "resid7", "seasonal")
        .orderBy("flag", "dow")
    },
    Some(s"""WITH daily AS (${Det.sqlDailyCents("v")}),
             f AS (SELECT flag, d, v,
                 CAST(sum(v) OVER w AS BIGINT) AS s7,
                 count(*) OVER w AS n7
               FROM daily
               WINDOW w AS (PARTITION BY flag ORDER BY d
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING))
            SELECT flag, CAST(isodow(d) - 1 AS INT) AS dow,
                   count(*) AS n_days,
                   CAST(sum(v * 7 - s7) AS BIGINT) AS resid7,
                   CAST(CAST(sum(v * 7 - s7) AS BIGINT) AS DOUBLE)
                     / (CAST(7 AS DOUBLE) * CAST(count(*) AS DOUBLE))
                     AS seasonal
            FROM f WHERE n7 = 7
            GROUP BY flag, isodow(d)
            ORDER BY flag, dow"""))

  /** Welch's two-sample t — the unequal-variance mean-difference test
    * (the workhorse behind every A/B readout on a continuous metric;
    * q_ab_lift's z covers proportions, this covers means): BUILDING-vs-
    * MACHINERY segments' order totals in integer cents, one grouped pass
    * collecting the exact moments (n, Σx, Σx² on DECIMAL(38,0) — cents²
    * overflows int64), then every statistic is shared formula text over
    * the correctly-rounded double casts: mean, sample variance
    * s² = (nΣx² − (Σx)²)/(n(n−1)), t = (m₁−m₂)/sqrt(s₁²/n₁ + s₂²/n₂),
    * and the Welch–Satterthwaite df. One scan, 2-row aggregate, 1-row
    * output — map-side combinable like a plain sum.
    */
  val qAggTtest = Q(
    "q_agg_ttest",
    (s, dir) => {
      val m = Tables.orders(s, dir)
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .where(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .groupBy(col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("n"),
          sum(Det.cents("o_totalprice").cast(Dec0)).cast(Dec0).as("sx"),
          sum((Det.cents("o_totalprice").cast(Dec0) *
            Det.cents("o_totalprice").cast(Dec0)))
            .cast(Dec0).as("sxx"))
        .withColumn("nn", expr("CAST(n AS DOUBLE)"))
        .withColumn("mean", expr("CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("vr", expr(
          "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) " +
            "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) " +
            "/ (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) " +
            "- CAST(1 AS DOUBLE)))"))
      val a = m.where(col("seg") === "BUILDING")
        .select(col("n").as("n1"), col("nn").as("nn1"),
          col("mean").as("m1"), col("vr").as("v1"))
      val b = m.where(col("seg") === "MACHINERY")
        .select(col("n").as("n2"), col("nn").as("nn2"),
          col("mean").as("m2"), col("vr").as("v2"))
      a.crossJoin(broadcast(b))
        .withColumn("se2", expr("v1 / nn1 + v2 / nn2"))
        .select(col("n1"), col("n2"), col("m1"), col("m2"),
          expr("(m1 - m2) / sqrt(se2)").as("t"),
          expr("se2 * se2 / (v1 * v1 / (nn1 * nn1 * (nn1 " +
            "- CAST(1 AS DOUBLE))) + v2 * v2 / (nn2 * nn2 * (nn2 " +
            "- CAST(1 AS DOUBLE))))").as("df"))
    },
    Some(s"""WITH j AS (SELECT c_mktsegment AS seg,
                    ${Det.sqlCents("o_totalprice")} AS c
                  FROM orders JOIN customer ON o_custkey = c_custkey
                  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')),
             m AS (SELECT seg, count(*) AS n,
                     CAST(sum(CAST(c AS HUGEINT)) AS HUGEINT) AS sx,
                     CAST(sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT))
                       AS HUGEINT) AS sxx
                   FROM j GROUP BY seg),
             mm AS (SELECT seg, n, CAST(n AS DOUBLE) AS nn,
                      CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                      (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE)
                        - CAST(1 AS DOUBLE))) AS vr
                    FROM m),
             ab AS (SELECT a.n AS n1, b.n AS n2, a.nn AS nn1, b.nn AS nn2,
                      a.mean AS m1, b.mean AS m2, a.vr AS v1, b.vr AS v2,
                      a.vr / a.nn + b.vr / b.nn AS se2
                    FROM mm a CROSS JOIN mm b
                    WHERE a.seg = 'BUILDING' AND b.seg = 'MACHINERY')
            SELECT n1, n2, m1, m2,
                   (m1 - m2) / sqrt(se2) AS t,
                   se2 * se2 / (v1 * v1 / (nn1 * nn1 * (nn1
                     - CAST(1 AS DOUBLE))) + v2 * v2 / (nn2 * nn2 * (nn2
                     - CAST(1 AS DOUBLE)))) AS df
            FROM ab"""))

  /** Mann–Whitney U (Wilcoxon rank-sum) — the NONPARAMETRIC two-sample
    * test closing the inferential family (t assumes normal-ish means,
    * KS is distribution-sup; U is the rank-based "does one group
    * stochastically dominate" workhorse for skewed metrics): returned
    * ('R') vs never-returned ('N') price ranks. Ties use midranks, kept
    * integer-exact by the ×2 trick: 2·midrank(v) = 2·C(<v) + cnt(v) + 1,
    * so 2R₁ = Σ_v c₁(v)·(2·C(<v) + cnt(v) + 1) is an exact int64 sum and
    * U₁ = R₁ − n₁(n₁+1)/2 halves exactly (2R₁ and n₁(n₁+1) are both
    * even-adjusted in one expression). The exclusive cumulative C(<v)
    * rides Prefix.runningSum over the distinct-value axis — the same
    * decomposed scan as q_agg_ks_test (one bucketed frame serves both
    * tests' shape). The normal-approx z (with tie correction) is shared
    * formula text: one sqrt over exact-integer operands.
    */
  val qAggMannwhitney = Q(
    "q_agg_mannwhitney",
    (s, dir) => {
      val pv = Tables.lineitem(s, dir)
        .where(col("l_returnflag").isin("R", "N"))
        .select(col("l_extendedprice").as("v"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("g1"),
          when(col("l_returnflag") === "N", 1L).otherwise(0L).as("g2"))
        .groupBy("v")
        .agg(sum(col("g1")).as("c1"), sum(col("g2")).as("c2"))
        .withColumn("cnt", col("c1") + col("c2"))
      val cum = Prefix.runningSum(
        Prefix.withRangeBucket(pv, col("v"), 64, "__b"),
        "__b", Seq(col("v")), bucketDesc = false, col("cnt"), "cle")
        .withColumn("clt", col("cle") - col("cnt"))
      val agg = cum.agg(
        sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
        sum(col("c1") * (col("clt") * 2 + col("cnt") + 1)).as("r1x2"),
        // tie cube on DECIMAL(38,0): a single value repeated >~2.1e6
        // times overflows t³ on BIGINT (Spark wraps silently, DuckDB
        // raises — an engine-DIVERGENT failure); the decimal carrier is
        // exact to t ≈ 10¹², beyond the 2e9-row rank carrier bound
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * CAST(cnt AS DECIMAL(38,0))" +
          " * CAST(cnt AS DECIMAL(38,0)) - CAST(cnt AS DECIMAL(38,0))"))
          .as("ties"))
      agg.select(col("n1"), col("n2"),
          expr("(r1x2 - n1 * (n1 + 1)) div 2").as("u1"),
          col("r1x2"), col("ties"))
        .withColumn("z", expr(
          "(CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE) / CAST(2 AS DOUBLE) " +
            "- CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) " +
            "/ CAST(2 AS DOUBLE)) " +
            "/ sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) " +
            "/ CAST(12 AS DOUBLE) * ((CAST(n1 AS DOUBLE) " +
            "+ CAST(n2 AS DOUBLE) + CAST(1 AS DOUBLE)) " +
            "- CAST(ties AS DOUBLE) / ((CAST(n1 AS DOUBLE) " +
            "+ CAST(n2 AS DOUBLE)) * (CAST(n1 AS DOUBLE) " +
            "+ CAST(n2 AS DOUBLE) - CAST(1 AS DOUBLE)))))"))
        .select("n1", "n2", "u1", "z")
    },
    Some("""WITH x AS (SELECT l_extendedprice AS v,
                    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g1,
                    CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS g2
                  FROM lineitem WHERE l_returnflag IN ('R', 'N')),
             pv AS (SELECT v, CAST(sum(g1) AS BIGINT) AS c1,
                          CAST(sum(g2) AS BIGINT) AS c2,
                          CAST(sum(g1) + sum(g2) AS BIGINT) AS cnt
                    FROM x GROUP BY v),
             cum AS (SELECT v, c1, c2, cnt,
                       CAST(sum(cnt) OVER (ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) - cnt AS clt
                     FROM pv),
             agg AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                       CAST(sum(c2) AS BIGINT) AS n2,
                       CAST(sum(c1 * (clt * 2 + cnt + 1)) AS BIGINT)
                         AS r1x2,
                       sum(CAST(cnt AS DECIMAL(38,0)) * CAST(cnt AS DECIMAL(38,0))
                         * CAST(cnt AS DECIMAL(38,0))
                         - CAST(cnt AS DECIMAL(38,0))) AS ties
                     FROM cum)
            SELECT n1, n2, (r1x2 - n1 * (n1 + 1)) // 2 AS u1,
                   (CAST(r1x2 - n1 * (n1 + 1) AS DOUBLE)
                      / CAST(2 AS DOUBLE)
                    - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                      / CAST(2 AS DOUBLE))
                   / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                     / CAST(12 AS DOUBLE) * ((CAST(n1 AS DOUBLE)
                     + CAST(n2 AS DOUBLE) + CAST(1 AS DOUBLE))
                     - CAST(ties AS DOUBLE) / ((CAST(n1 AS DOUBLE)
                     + CAST(n2 AS DOUBLE)) * (CAST(n1 AS DOUBLE)
                     + CAST(n2 AS DOUBLE) - CAST(1 AS DOUBLE))))) AS z
            FROM agg"""))

  /** Mutual information I(X;Y) between two categorical columns (nation ×
    * market segment) — the information-theoretic dependence readout next
    * to q_agg_chi2's frequentist one (χ² answers "is there dependence?",
    * MI answers "how many nats does knowing X tell you about Y?" — the
    * feature-selection ranking signal). All counting is exact integers on
    * the bounded cell grid (χ² doctrine: row/col/grand totals are
    * broadcast joins, never a partition-less window); each cell's term
    * (o/n)·ln(o·n/(r·c)) is a double over identical operands, and the
    * SUM of terms rides the entropy doctrine (per-term DECIMAL(38,12)
    * cast → order-free exact sum → double). Output also carries the
    * marginal entropies and NMI = I/√(H(X)·H(Y)) from one shared formula.
    * 100 TB: one hash aggregate over the pair column, then O(cells)
    * arithmetic — map-side combinable end to end.
    */
  val qAggMutualInfo = Q(
    "q_agg_mutual_info",
    (s, dir) => {
      val base = Tables.customer(s, dir)
        .select(col("c_nationkey").as("x"), col("c_mktsegment").as("y"))
      val cells = base.groupBy("x", "y").agg(count(lit(1)).as("o"))
      val rt = cells.groupBy("x").agg(sum(col("o")).as("r"))
      val ct = cells.groupBy("y").agg(sum(col("o")).as("c"))
      val nt = cells.agg(sum(col("o")).as("n"))
      val miTerm =
        "(CAST(o AS DOUBLE) / CAST(n AS DOUBLE)) * " +
          "ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE) / " +
          "(CAST(r AS DOUBLE) * CAST(c AS DOUBLE)))"
      def entTerm(tot: String) =
        s"-(CAST($tot AS DOUBLE) / CAST(n AS DOUBLE)) * " +
          s"ln(CAST($tot AS DOUBLE) / CAST(n AS DOUBLE))"
      val mi = cells.join(broadcast(rt), "x").join(broadcast(ct), "y")
        .crossJoin(broadcast(nt))
        .agg(sum(expr(miTerm).cast(Dec12)).cast("double").as("mi"))
      val hx = rt.crossJoin(broadcast(nt))
        .agg(sum(expr(entTerm("r")).cast(Dec12)).cast("double").as("h_x"))
      val hy = ct.crossJoin(broadcast(nt))
        .agg(sum(expr(entTerm("c")).cast(Dec12)).cast("double").as("h_y"))
      nt.crossJoin(broadcast(mi)).crossJoin(broadcast(hx))
        .crossJoin(broadcast(hy))
        .select(col("n"), col("mi"), col("h_x"), col("h_y"),
          expr("CASE WHEN h_x * h_y > CAST(0 AS DOUBLE) " +
            "THEN mi / sqrt(h_x * h_y) ELSE NULL END").as("nmi"))
    },
    Some("""WITH base AS (SELECT c_nationkey AS x, c_mktsegment AS y
                  FROM customer),
             cells AS (SELECT x, y, count(*) AS o FROM base GROUP BY x, y),
             rt AS (SELECT x, sum(o) AS r FROM cells GROUP BY x),
             ct AS (SELECT y, sum(o) AS c FROM cells GROUP BY y),
             nt AS (SELECT sum(o) AS n FROM cells),
             mi AS (SELECT CAST(sum(CAST(
                      (CAST(o AS DOUBLE) / CAST(n AS DOUBLE)) *
                      ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE) /
                         (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)))
                      AS DECIMAL(38,12))) AS DOUBLE) AS mi
                    FROM cells JOIN rt ON cells.x = rt.x
                               JOIN ct ON cells.y = ct.y
                               CROSS JOIN nt),
             hx AS (SELECT CAST(sum(CAST(
                      -(CAST(r AS DOUBLE) / CAST(n AS DOUBLE)) *
                      ln(CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
                      AS DECIMAL(38,12))) AS DOUBLE) AS h_x
                    FROM rt CROSS JOIN nt),
             hy AS (SELECT CAST(sum(CAST(
                      -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
                      ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                      AS DECIMAL(38,12))) AS DOUBLE) AS h_y
                    FROM ct CROSS JOIN nt)
            SELECT CAST(n AS BIGINT) AS n, mi, h_x, h_y,
                   CASE WHEN h_x * h_y > CAST(0 AS DOUBLE)
                        THEN mi / sqrt(h_x * h_y) ELSE NULL END AS nmi
            FROM nt CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy"""))

  /** M4 time-series downsampling — the EXACT pixel-perfect reducer from
    * the M4 paper (q_time_lttb preserves shape heuristically; M4 is the
    * stronger guarantee: per pixel-column bucket, keep min, max, first
    * and last, which provably reproduces every line-rendering pixel):
    * day axis split into 10 equal-width buckets, each emitting up to 4
    * (t, y) points via min_by/max_by on both axes — ONE bounded hash
    * aggregate, embarrassingly parallel, no anchors, no windows.
    * Points deduplicated (a bucket's first can also be its min) and
    * role-tagged; ties on equal y resolved to the earliest t (min_by/
    * arg_min tie semantics pinned by the shared earliest-t tiebreak
    * struct — both engines pick the same row by construction).
    */
  val qTimeM4 = Q(
    "q_time_m4",
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(sum(Det.cents("value")).as("y"))
        .select(datediff(col("d"), lit("1970-01-01").cast("date"))
          .cast("long").as("t"), col("y"))
      val g = daily.agg(min(col("t")).as("tmin"), max(col("t")).as("tmax"))
      val bucketed = daily.crossJoin(broadcast(g))
        .withColumn("b",
          expr("CASE WHEN tmax > tmin THEN " +
            "least(((t - tmin) * 10) DIV (tmax - tmin + 1), 9) " +
            "ELSE 0 END"))
      bucketed.groupBy("b")
        .agg(min(col("t")).as("t_first"),
          max(col("t")).as("t_last"),
          expr("min_by(y, t)").as("y_first"),
          expr("max_by(y, t)").as("y_last"),
          // y extremes with earliest-t tiebreak via struct ordering
          expr("min(named_struct('y', y, 't', t)).y").as("y_min"),
          expr("min(named_struct('y', y, 't', t)).t").as("t_ymin"),
          expr("max(named_struct('y', y, 't', -t)).y").as("y_max"),
          expr("-max(named_struct('y', y, 't', -t)).t").as("t_ymax"),
          count(lit(1)).as("n_points"))
        .orderBy("b")
    },
    Some(s"""WITH daily AS (SELECT
                    CAST(datediff('day', DATE '1970-01-01',
                      CAST(ts AS DATE)) AS BIGINT) AS t,
                    CAST(SUM(${Det.sqlCents("value")}) AS BIGINT) AS y
                  FROM events GROUP BY 1),
             g AS (SELECT min(t) AS tmin, max(t) AS tmax FROM daily),
             bk AS (SELECT t, y,
                     CASE WHEN tmax > tmin THEN
                       least(((t - tmin) * 10) // (tmax - tmin + 1), 9)
                     ELSE 0 END AS b
                   FROM daily CROSS JOIN g),
             mn AS (SELECT b, y AS y_min, t AS t_ymin
                   FROM (SELECT b, y, t, row_number() OVER (
                           PARTITION BY b ORDER BY y, t) AS rn FROM bk)
                   WHERE rn = 1),
             mx AS (SELECT b, y AS y_max, t AS t_ymax
                   FROM (SELECT b, y, t, row_number() OVER (
                           PARTITION BY b ORDER BY y DESC, t) AS rn
                         FROM bk)
                   WHERE rn = 1),
             fl AS (SELECT b, min(t) AS t_first, max(t) AS t_last,
                     min_by(y, t) AS y_first, max_by(y, t) AS y_last,
                     count(*) AS n_points
                   FROM bk GROUP BY b)
            SELECT fl.b, t_first, t_last, y_first, y_last,
                   y_min, t_ymin, y_max, t_ymax, n_points
            FROM fl JOIN mn ON fl.b = mn.b JOIN mx ON fl.b = mx.b
            ORDER BY fl.b"""))

  /** LTTB-style time-series downsampling — the dashboard/visualization
    * reducer (ship 12 points that preserve the SHAPE of a 10⁶-point
    * series, where uniform sampling clips peaks): first/last points kept,
    * interior days split into 10 equal-width TIME buckets, each bucket
    * represented by the point maximizing the triangle area against the
    * NEIGHBOR-BUCKET MEAN anchors ((xa−xc)(y−ya) − (xa−x)(yc−ya), the
    * LTTB effective-area formula). This is the parallel mean-anchor
    * variant of Steinarsson's LTTB: strict LTTB chains each bucket's pick
    * to the PREVIOUS PICK (inherently sequential); anchoring on bucket
    * means instead makes every bucket's argmax independent — one pass,
    * map-side combinable — at a small, documented fidelity delta.
    * Determinism: anchors are Dec-exact means cast to double, area is ONE
    * shared formula, argmax tie-breaks (area desc, t asc) via a struct
    * max; boundary buckets anchor on the exact endpoints. Scale: bucket
    * count is fixed (10), so the avg and argmax aggregates are bounded
    * hash aggs; the daily rollup is the only exchange.
    */
  val qTimeLttb = Q(
    "q_time_lttb",
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("d"))
        .agg(sum(Det.cents("value")).as("y"))
        .select(datediff(col("d"), lit("1970-01-01").cast("date"))
          .cast("long").as("t"), col("y"))
      val g = daily.agg(min(col("t")).as("tmin"), max(col("t")).as("tmax"),
        expr("min_by(y, t)").as("y0"), expr("max_by(y, t)").as("yn"))
      val interior = daily.crossJoin(broadcast(g))
        .where(col("t") > col("tmin") && col("t") < col("tmax"))
        .withColumn("b",
          expr("CASE WHEN tmax - tmin >= 2 THEN " +
            "((t - tmin - 1) * 10) DIV (tmax - tmin - 1) ELSE 0 END"))
      val bavg = interior.groupBy("b")
        .agg(Det.davg(col("t")).as("ax"), Det.davg(col("y")).as("ay"))
      val areaFml =
        "abs((xa - xc) * (CAST(y AS DOUBLE) - ya) - " +
          "(xa - CAST(t AS DOUBLE)) * (yc - ya))"
      val picks = interior
        .join(broadcast(bavg.select((col("b") + 1).as("b"),
          col("ax").as("pax"), col("ay").as("pay"))), Seq("b"), "left")
        .join(broadcast(bavg.select((col("b") - 1).as("b"),
          col("ax").as("nax"), col("ay").as("nay"))), Seq("b"), "left")
        .withColumn("xa", coalesce(col("pax"),
          col("tmin").cast("double")))
        .withColumn("ya", coalesce(col("pay"), col("y0").cast("double")))
        .withColumn("xc", coalesce(col("nax"),
          col("tmax").cast("double")))
        .withColumn("yc", coalesce(col("nay"), col("yn").cast("double")))
        .withColumn("area", expr(areaFml))
        .groupBy("b")
        .agg(max(struct(col("area"), (-col("t")).as("nt"),
          col("t"), col("y"))).as("m"))
        .select(col("m.t").as("t_day"), col("m.y").as("y_cents"),
          lit("bucket").as("tag"), col("m.area").as("area"))
      val endpoints = daily.crossJoin(broadcast(g))
        .where(col("t") === col("tmin") || col("t") === col("tmax"))
        .select(col("t").as("t_day"), col("y").as("y_cents"),
          lit("endpoint").as("tag"),
          lit(null).cast("double").as("area"))
      endpoints.union(picks).orderBy("t_day")
    },
    Some(s"""WITH daily AS (SELECT
                    CAST(datediff('day', DATE '1970-01-01',
                      CAST(ts AS DATE)) AS BIGINT) AS t,
                    CAST(SUM(${Det.sqlCents("value")}) AS BIGINT) AS y
                  FROM events GROUP BY 1),
             g AS (SELECT min(t) AS tmin, max(t) AS tmax,
                     min_by(y, t) AS y0, max_by(y, t) AS yn FROM daily),
             interior AS (SELECT t, y,
                     CASE WHEN tmax - tmin >= 2 THEN
                       ((t - tmin - 1) * 10) // (tmax - tmin - 1)
                     ELSE 0 END AS b, tmin, tmax, y0, yn
                   FROM daily CROSS JOIN g
                   WHERE t > tmin AND t < tmax),
             bavg AS (SELECT b,
                     CAST(SUM(CAST(t AS DECIMAL(38,6))) AS DOUBLE)
                       / CAST(COUNT(t) AS DOUBLE) AS ax,
                     CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE)
                       / CAST(COUNT(y) AS DOUBLE) AS ay
                   FROM interior GROUP BY b),
             anch AS (SELECT i.t, i.y, i.b,
                     COALESCE(p.ax, CAST(i.tmin AS DOUBLE)) AS xa,
                     COALESCE(p.ay, CAST(i.y0 AS DOUBLE)) AS ya,
                     COALESCE(nx.ax, CAST(i.tmax AS DOUBLE)) AS xc,
                     COALESCE(nx.ay, CAST(i.yn AS DOUBLE)) AS yc
                   FROM interior i
                   LEFT JOIN bavg p ON p.b = i.b - 1
                   LEFT JOIN bavg nx ON nx.b = i.b + 1),
             scored AS (SELECT t, y, b,
                     abs((xa - xc) * (CAST(y AS DOUBLE) - ya) -
                         (xa - CAST(t AS DOUBLE)) * (yc - ya)) AS area
                   FROM anch),
             picks AS (SELECT t AS t_day, y AS y_cents,
                     'bucket' AS tag, area
                   FROM (SELECT t, y, b, area, row_number() OVER (
                           PARTITION BY b ORDER BY area DESC, t) AS rn
                         FROM scored)
                   WHERE rn = 1),
             ends AS (SELECT t AS t_day, y AS y_cents, 'endpoint' AS tag,
                     CAST(NULL AS DOUBLE) AS area
                   FROM daily CROSS JOIN g
                   WHERE t = tmin OR t = tmax)
            SELECT * FROM ends UNION ALL SELECT * FROM picks
            ORDER BY t_day"""))

  /** Classical additive time-series DECOMPOSITION (trend + seasonal +
    * residual) — the full-resolution companion to q_seasonal_dow's
    * seasonal-index readout: per flag and day, trend = centered 7-day
    * moving average, seasonal = that flag×weekday's mean detrended value
    * (the q_seasonal_dow index, reused at row grain), residual = what's
    * left — the de-seasonalized series change-point/anomaly tests should
    * consume instead of the raw one. Edge days (partial 7-frames) carry
    * no trend and are excluded, exactly as in q_seasonal_dow, so the
    * seasonal means see only complete frames; a frame is complete only
    * when its 7 ROWS also span exactly 7 calendar days (max−min = 6) —
    * ROWS frames count observations, not days, so a date gap would
    * otherwise silently widen the trend window (ADVICE r13). Determinism: daily values
    * are exact BIGINT cents; trend is ONE division of an exact integer
    * (s7/7); the seasonal index divides the exact integer Σ(7v−s7) by
    * 7·n; the residual is two IEEE subtractions on identical operands —
    * no order-dependent float accumulation anywhere. Scale: one
    * calendar-bounded daily rollup, flag-partitioned windows over it,
    * and a broadcast-sized (flag × 7) seasonal join.
    */
  val qTimeDecompose = Q(
    "q_time_decompose",
    (s, dir) => {
      val frame = Window.partitionBy("flag").orderBy("d").rowsBetween(-3, 3)
      val daily = Det.dailyCents(s, dir, "v")
        .withColumn("s7", sum(col("v")).over(frame))
        .withColumn("n7", count(lit(1)).over(frame))
        // Frame-span check (ADVICE r13): 7 ROWS spans 7 observations,
        // not 7 calendar days — a date gap would silently widen the
        // trend window, so a frame only counts when its 7 rows cover
        // exactly 7 consecutive days (max-min = 6).
        .withColumn("span7", datediff(max(col("d")).over(frame),
          min(col("d")).over(frame)))
        .where(col("n7") === 7 && col("span7") === 6)
        .withColumn("dow", weekday(col("d")))
      val seas = daily
        .groupBy("flag", "dow")
        .agg(count(lit(1)).as("n_days"),
          sum(col("v") * 7 - col("s7")).as("resid7"))
        .select(col("flag"), col("dow"), expr(
          "CAST(resid7 AS DOUBLE) / (CAST(7 AS DOUBLE) " +
            "* CAST(n_days AS DOUBLE))").as("seasonal"))
      daily
        .join(broadcast(seas), Seq("flag", "dow"))
        .select(col("flag"),
          col("d").cast(org.apache.spark.sql.types.TimestampType).as("d"),
          col("v").as("v_cents"),
          expr("CAST(s7 AS DOUBLE) / CAST(7 AS DOUBLE)").as("trend"),
          col("seasonal"),
          expr("CAST(v AS DOUBLE) - CAST(s7 AS DOUBLE) " +
            "/ CAST(7 AS DOUBLE) - seasonal").as("resid"))
        .orderBy("flag", "d")
    },
    Some(s"""WITH daily AS (
              ${Det.sqlDailyCents("v")}),
             fr AS (SELECT flag, d, v,
                      CAST(sum(v) OVER w AS BIGINT) AS s7,
                      count(*) OVER w AS n7,
                      max(d) OVER w - min(d) OVER w AS span7,
                      dayofweek(d) AS dw
                    FROM daily
                    WINDOW w AS (PARTITION BY flag ORDER BY d
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
             full_fr AS (SELECT flag, d, v, s7,
                      CASE WHEN dw = 0 THEN 6 ELSE dw - 1 END AS dow
                    FROM fr WHERE n7 = 7 AND span7 = 6),
             seas AS (SELECT flag, dow,
                        CAST(CAST(sum(v * 7 - s7) AS BIGINT) AS DOUBLE)
                          / (CAST(7 AS DOUBLE)
                             * CAST(count(*) AS DOUBLE)) AS seasonal
                      FROM full_fr GROUP BY flag, dow)
            SELECT f.flag, CAST(f.d AS TIMESTAMP) AS d, f.v AS v_cents,
                   CAST(f.s7 AS DOUBLE) / CAST(7 AS DOUBLE) AS trend,
                   s.seasonal,
                   CAST(f.v AS DOUBLE) - CAST(f.s7 AS DOUBLE)
                     / CAST(7 AS DOUBLE) - s.seasonal AS resid
            FROM full_fr f JOIN seas s
              ON f.flag = s.flag AND f.dow = s.dow
            ORDER BY f.flag, f.d"""))

  /** Blocked ENTITY RESOLUTION with best-match election — the full ER
    * pipeline shape (q_str_fuzzy_match is the bounded dim×dim primitive;
    * this is the production staging): (1) DEDUPLICATE to distinct names
    * first — the vocabulary is fixed (64 names at every SF here; real
    * catalogs grow sublinearly) so all fuzzy work runs on the vocab, not
    * the rows; (2) BLOCK on a cheap key (the trailing noun token) so the
    * pair space is per-block, the same role LSH bands play before
    * Jaccard; (3) per-pair Levenshtein inside blocks only; (4) elect ONE
    * best match per name under the total order (distance, candidate) via
    * row_number — the survivor-election idiom. Edit distance is an exact
    * integer DP with identical semantics in both engines; no floats
    * anywhere. Names whose block holds no candidate within distance 4
    * are dropped (unresolvable — the honest ER output).
    */
  val qErBlocking = Q(
    "q_er_blocking",
    (s, dir) => {
      val names = Tables.part(s, dir).select(col("p_name")).distinct()
        .select(col("p_name").as("name"),
          regexp_extract(col("p_name"), "[a-z]+$", 0).as("blk"))
      val cand = names.select(col("blk"), col("name").as("cand"))
      val w = Window.partitionBy("name")
        .orderBy(col("dist"), col("cand"))
      names.join(cand, Seq("blk"))
        .where(col("name") =!= col("cand"))
        .withColumn("dist",
          levenshtein(col("name"), col("cand")).cast("long"))
        .where(col("dist") <= 4)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("name"), col("cand").as("best_match"), col("dist"))
        .orderBy("name")
    },
    Some("""WITH names AS (SELECT DISTINCT p_name AS name,
                   regexp_extract(p_name, '[a-z]+$') AS blk
                 FROM part),
             pairs AS (SELECT a.name, b.name AS cand,
                         CAST(levenshtein(a.name, b.name) AS BIGINT)
                           AS dist
                       FROM names a JOIN names b ON a.blk = b.blk
                       WHERE a.name <> b.name
                         AND levenshtein(a.name, b.name) <= 4),
             r AS (SELECT name, cand, dist,
                     row_number() OVER (PARTITION BY name
                       ORDER BY dist, cand) AS rn
                   FROM pairs)
            SELECT name, cand AS best_match, dist
            FROM r WHERE rn = 1 ORDER BY name"""))

  /** Leave-one-out TARGET ENCODING with m-estimate smoothing — the
    * categorical-feature encoder every tabular-ML pipeline runs before
    * gradient boosting (category → smoothed outcome rate), in the
    * leakage-safe LOO form: each row's own label is subtracted from its
    * category's sum so the feature never sees its own target —
    * enc_i = (S_cat − y_i + m·P) / (n_cat − 1 + m), m = 10, P = the
    * global prior. Category = the customer's nation; target = order
    * fully shipped (status 'F'). Determinism: S, n, y are exact
    * integers; P is one division of exact ints; m·P, the numerator adds
    * and the final division are shared-text IEEE steps on identical
    * operands — no order-dependent accumulation. Scale: one fact⋈dim
    * join on custkey (AQE-skew-splittable), one bounded (25-nation)
    * aggregate broadcast back, then pure row-local arithmetic — the
    * encoder is a map-side transform at 100 TB.
    */
  val qFeatureTargetEncode = Q(
    "q_feature_target_encode",
    (s, dir) => {
      val o = Tables.orders(s, dir)
        .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey").as("nat")),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("nat"),
          when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
      val glob = o.agg(sum(col("y")).as("sg"), count(lit(1)).as("ng"))
      val cat = o.groupBy("nat")
        .agg(sum(col("y")).as("sc"), count(lit(1)).as("nc"))
      o.join(broadcast(cat), Seq("nat")).crossJoin(broadcast(glob))
        .select(col("o_orderkey"), col("nat"), col("y"),
          expr("(CAST(sc - y AS DOUBLE) + CAST(10.0 AS DOUBLE) " +
            "* (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))) " +
            "/ CAST(nc - 1 + 10 AS DOUBLE)").as("enc"))
        .orderBy("o_orderkey")
    },
    Some("""WITH o AS (SELECT o_orderkey, c_nationkey AS nat,
                   CASE WHEN o_orderstatus = 'F' THEN CAST(1 AS BIGINT)
                        ELSE CAST(0 AS BIGINT) END AS y
                 FROM orders JOIN customer ON o_custkey = c_custkey),
             g AS (SELECT CAST(sum(y) AS BIGINT) AS sg,
                          count(*) AS ng FROM o),
             c AS (SELECT nat, CAST(sum(y) AS BIGINT) AS sc,
                          count(*) AS nc FROM o GROUP BY nat)
            SELECT o.o_orderkey, o.nat, o.y,
                   (CAST(c.sc - o.y AS DOUBLE) + CAST(10.0 AS DOUBLE)
                     * (CAST(g.sg AS DOUBLE) / CAST(g.ng AS DOUBLE)))
                   / CAST(c.nc - 1 + 10 AS DOUBLE) AS enc
            FROM o JOIN c ON o.nat = c.nat CROSS JOIN g
            ORDER BY o.o_orderkey"""))

  /** SAX SYMBOLIZATION (Symbolic Aggregate approXimation) — the classic
    * time-series-to-string reduction behind motif discovery, series
    * indexing and anomaly dictionaries (Lin/Keogh's public formulation):
    * per flag, the daily-revenue series is z-normalized, PAA-compressed
    * into 16 equal segments, and each segment mean mapped to a 4-letter
    * alphabet at the standard Gaussian breakpoints ±0.6745 / 0. Segment
    * assignment is the balanced integer split floor((rn−1)·16/n) — pure
    * integer, no ntile ambiguity. Determinism: day values are exact
    * cents in a DECIMAL(38,0) carrier (the q_time_autocorr posture — v²
    * sums overflow BIGINT at scale), mean/std/PAA/z are shared-formula
    * IEEE steps on identical operands, and the breakpoint CASE compares
    * identical doubles. Scale: calendar-bounded rollup, flag-partitioned
    * rank window, one bounded (flag×16) aggregate.
    */
  val qTimeSax = Q(
    "q_time_sax",
    (s, dir) => {
      val w = Window.partitionBy("flag").orderBy("d")
      val varFml = "(CAST(n AS DOUBLE) * CAST(svv AS DOUBLE) " +
        "- CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))"
      val zCore = "(CAST(sseg AS DOUBLE) / CAST(nseg AS DOUBLE) " +
        "- CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) / " +
        s"sqrt($varFml " +
        "/ (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
      // Zero-variance guard (ADVICE r13): a constant series would hit
      // 0/0 (NaN) or x/0 (Inf) — IEEE in Spark but setting-dependent in
      // DuckDB — so degenerate flags report NULL z / NULL sym, the
      // q_time_crosscorr posture.
      val zFml = s"CASE WHEN $varFml <= CAST(0.0 AS DOUBLE) " +
        s"THEN NULL ELSE $zCore END"
      val daily = Det.dailyCents(s, dir, "v", dec0 = true)
        .withColumn("rn", row_number().over(w))
      val st = daily.groupBy("flag")
        .agg(count(lit(1)).as("n"), sum(col("v")).cast(Dec0).as("sv"),
          sum(col("v") * col("v")).cast(Dec0).as("svv"))
      daily.join(broadcast(st), Seq("flag"))
        .withColumn("seg", expr("CAST(((rn - 1) * 16) DIV n AS INT)"))
        .groupBy(col("flag"), col("seg"), col("n"), col("sv"), col("svv"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("v")).cast(Dec0).as("sseg"))
        .withColumn("nseg", col("n_days"))
        .select(col("flag"), col("seg"), col("n_days"),
          expr(zFml).as("z"),
          expr(s"CASE WHEN $varFml <= CAST(0.0 AS DOUBLE) THEN NULL " +
            s"WHEN $zCore < CAST(-0.6745 AS DOUBLE) THEN 'a' " +
            s"WHEN $zCore < CAST(0.0 AS DOUBLE) THEN 'b' " +
            s"WHEN $zCore < CAST(0.6745 AS DOUBLE) THEN 'c' " +
            "ELSE 'd' END").as("sym"))
        .orderBy("flag", "seg")
    },
    Some {
      val varFml = """(CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
          - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))"""
      val zCore = s"""(CAST(sseg AS DOUBLE) / CAST(nseg AS DOUBLE)
          - CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) /
          sqrt($varFml
          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"""
      val zFml = s"""CASE WHEN $varFml <= CAST(0.0 AS DOUBLE)
          THEN NULL ELSE $zCore END"""
      s"""WITH daily AS (
              ${Det.sqlDailyCents("v", dec0 = true)}),
             rk AS (SELECT flag, v,
                      row_number() OVER (PARTITION BY flag ORDER BY d)
                        AS rn
                    FROM daily),
             st AS (SELECT flag, count(*) AS n,
                      CAST(sum(v) AS HUGEINT) AS sv,
                      CAST(sum(v * v) AS HUGEINT) AS svv
                    FROM daily GROUP BY flag),
             seg AS (SELECT rk.flag, ((rn - 1) * 16) // st.n AS seg,
                       st.n, st.sv, st.svv, rk.v
                     FROM rk JOIN st ON rk.flag = st.flag),
             agg AS (SELECT flag, seg, n, sv, svv,
                       count(*) AS n_days, count(*) AS nseg,
                       CAST(sum(v) AS HUGEINT) AS sseg
                     FROM seg GROUP BY flag, seg, n, sv, svv)
            SELECT flag, CAST(seg AS INT) AS seg, n_days,
                   $zFml AS z,
                   CASE WHEN $varFml <= CAST(0.0 AS DOUBLE) THEN NULL
                        WHEN $zCore < CAST(-0.6745 AS DOUBLE) THEN 'a'
                        WHEN $zCore < CAST(0.0 AS DOUBLE) THEN 'b'
                        WHEN $zCore < CAST(0.6745 AS DOUBLE) THEN 'c'
                        ELSE 'd' END AS sym
            FROM agg ORDER BY flag, seg"""
    })

  /** BATCH PERCEPTRON training, 3 epochs, ALL-INTEGER — the in-plan
    * iterative-learning member of the ML family (q_agg_regression is the
    * closed form; q_feature_target_encode the encoder): y = ±1 on
    * returnflag 'R', integer features (bias, quantity, discount-cents),
    * batch update w += Σ_{misclassified} y·x where misclassified means
    * margin y·(w·x) ≤ 0. With integer features and w₀ = 0 every weight,
    * margin and update stays an exact BIGINT — the perceptron is the
    * one classic trainable model with NO float anywhere, which is
    * exactly why it's the doctrine-safe iterative trainer (logistic GD
    * needs per-row exp() — the last-ulp class Dec12 can only
    * probabilistically pin). Each epoch is ONE scan + global aggregate
    * with the 1-row weight vector broadcast back — at 100 TB, 3 epochs
    * = 3 scans, no driver-side data movement beyond 3 longs. Output:
    * final weights + training error census (one shared division).
    */
  val qMlPerceptron = Q(
    "q_ml_perceptron",
    (s, dir) => {
      val x = Tables.lineitem(s, dir).select(
        expr("CASE WHEN l_returnflag = 'R' THEN CAST(1 AS BIGINT) " +
          "ELSE CAST(-1 AS BIGINT) END").as("y"),
        expr("CAST(l_quantity AS BIGINT)").as("x1"),
        Det.cents("l_discount").as("x2"))
      var w = s.range(1).select(lit(0L).as("w0"), lit(0L).as("w1"),
        lit(0L).as("w2"))
      for (_ <- 1 to 3) {
        val upd = x.crossJoin(broadcast(w))
          .where(col("y") * (col("w0") + col("w1") * col("x1")
            + col("w2") * col("x2")) <= 0)
          .agg(coalesce(sum(col("y")), lit(0L)).as("d0"),
            coalesce(sum(col("y") * col("x1")), lit(0L)).as("d1"),
            coalesce(sum(col("y") * col("x2")), lit(0L)).as("d2"))
        w = w.crossJoin(broadcast(upd))
          .select((col("w0") + col("d0")).as("w0"),
            (col("w1") + col("d1")).as("w1"),
            (col("w2") + col("d2")).as("w2"))
      }
      x.crossJoin(broadcast(w))
        .groupBy("w0", "w1", "w2")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("y") * (col("w0") + col("w1") * col("x1")
            + col("w2") * col("x2")) <= 0, 1L).otherwise(0L))
            .as("n_errors"))
        .select(col("w0"), col("w1"), col("w2"), col("n_rows"),
          col("n_errors"),
          expr("CAST(n_errors AS DOUBLE) / CAST(n_rows AS DOUBLE)")
            .as("error_rate"))
    },
    Some(s"""WITH x AS (SELECT
                   CASE WHEN l_returnflag = 'R' THEN CAST(1 AS BIGINT)
                        ELSE CAST(-1 AS BIGINT) END AS y,
                   CAST(l_quantity AS BIGINT) AS x1,
                   ${Det.sqlCents("l_discount")} AS x2
                 FROM lineitem),
             w1 AS (SELECT
                   CAST(COALESCE(sum(y), 0) AS BIGINT) AS w0,
                   CAST(COALESCE(sum(y * x1), 0) AS BIGINT) AS w1,
                   CAST(COALESCE(sum(y * x2), 0) AS BIGINT) AS w2
                 FROM x WHERE y * (0 + 0 * x1 + 0 * x2) <= 0),
             w2 AS (SELECT
                   w.w0 + CAST(COALESCE(sum(x.y), 0) AS BIGINT) AS w0,
                   w.w1 + CAST(COALESCE(sum(x.y * x.x1), 0) AS BIGINT)
                     AS w1,
                   w.w2 + CAST(COALESCE(sum(x.y * x.x2), 0) AS BIGINT)
                     AS w2
                 FROM x CROSS JOIN w1 w
                 WHERE x.y * (w.w0 + w.w1 * x.x1 + w.w2 * x.x2) <= 0
                 GROUP BY w.w0, w.w1, w.w2),
             w3 AS (SELECT
                   w.w0 + CAST(COALESCE(sum(x.y), 0) AS BIGINT) AS w0,
                   w.w1 + CAST(COALESCE(sum(x.y * x.x1), 0) AS BIGINT)
                     AS w1,
                   w.w2 + CAST(COALESCE(sum(x.y * x.x2), 0) AS BIGINT)
                     AS w2
                 FROM x CROSS JOIN w2 w
                 WHERE x.y * (w.w0 + w.w1 * x.x1 + w.w2 * x.x2) <= 0
                 GROUP BY w.w0, w.w1, w.w2)
            SELECT w.w0, w.w1, w.w2, count(*) AS n_rows,
                   CAST(sum(CASE WHEN x.y * (w.w0 + w.w1 * x.x1
                       + w.w2 * x.x2) <= 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_errors,
                   CAST(sum(CASE WHEN x.y * (w.w0 + w.w1 * x.x1
                       + w.w2 * x.x2) <= 0 THEN 1 ELSE 0 END) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS error_rate
            FROM x CROSS JOIN w3 w
            GROUP BY w.w0, w.w1, w.w2"""))

  /** DFT PERIODOGRAM with dominant-period election — the spectral
    * member of the seasonality family (q_seasonal_dow assumes the
    * period is 7; this one FINDS it): per flag, the daily-revenue
    * series is probed at candidate periods p ∈ [2,14] with the naive
    * DFT power P(p) = (Σ v·cos(2πt/p))² + (Σ v·sin(2πt/p))², t = the
    * per-flag day rank. Naive O(days·periods) is the right shape here —
    * the candidate set is bounded and each (flag, p) sum is one
    * map-side-combining aggregate; an FFT's butterfly is all-to-all and
    * buys nothing for 13 periods. Determinism: cos/sin differ across
    * libm's, so the angle is FIRST reduced exactly in integers
    * (t mod p — the trig input never leaves [0, 2π), where libm's agree
    * to ~1 ulp; see the inline note), each factor quantized to
    * DECIMAL(8,6), and the carrier coarsened to whole dollars (exact
    * integer DIV) so the sums' internal integer stays < 2⁵³ — products
    * and sums stay EXACT in both engines AND the decimal→double
    * readout is single-rounding-representable; power is two shared-text
    * IEEE multiplies + one add on identical doubles. Dominant period = row_number over the bounded
    * 13-row per-flag spectrum (power desc, p asc). Scale:
    * calendar-bounded rollup × 13-row broadcast fan-out, one aggregate.
    */
  val qTimePeriodogram = Q(
    "q_time_periodogram",
    (s, dir) => {
      val wRk = Window.partitionBy("flag").orderBy("d")
      // EXACT integer argument reduction: cos(2pi t/p) depends only on
      // t mod p, so the trig input stays in [0, 2pi) where libm
      // implementations agree to ~1 ulp -- at the raw t (args up to
      // ~300 rad) JVM and glibc argument reduction diverges enough to
      // flip 1e-12 quantization boundaries on ~1/3 of the spectrum rows
      // (observed). Also collapses the evaluations to <= Sigma p = 104
      // distinct values. Scale 10 keeps the residual boundary
      // probability at ~1e-6 per value.
      val arg = "CAST(2.0 AS DOUBLE) * pi() * CAST(t % p AS DOUBLE) " +
        "/ CAST(p AS DOUBLE)"
      val daily = Det.dailyCents(s, dir, "v")
        .withColumn("t", row_number().over(wRk) - 1)
      val periods = s.range(2, 15).select(col("id").cast("int").as("p"))
      daily.crossJoin(broadcast(periods))
        .groupBy("flag", "p")
        .agg(count(lit(1)).as("n_days"),
          // v in whole DOLLARS (exact integer DIV) + scale-6 trig keeps
          // the sums' internal integer < 2^53: DuckDB converts decimal
          // to double as int128/10^s (two roundings) where Spark's
          // BigDecimal converts in one -- they agree only when the
          // decimal is exactly representable. At 100 TB coarsen the
          // carrier (v DIV 1e4) the same way.
          sum(expr(s"CAST(v DIV 100 AS DECIMAL(18,0)) " +
            s"* CAST(cos($arg) AS DECIMAL(8,6))")).as("sxd"),
          sum(expr(s"CAST(v DIV 100 AS DECIMAL(18,0)) " +
            s"* CAST(sin($arg) AS DECIMAL(8,6))")).as("syd"))
        .select(col("flag"), col("p"), col("n_days"),
          expr("CAST(sxd AS DOUBLE)").as("sx"),
          expr("CAST(syd AS DOUBLE)").as("sy"))
        .select(col("flag"), col("p"), col("n_days"),
          expr("sx * sx + sy * sy").as("power"))
        .withColumn("is_peak",
          when(row_number().over(Window.partitionBy("flag")
            .orderBy(col("power").desc, col("p"))) === 1, 1L)
            .otherwise(0L))
        .orderBy("flag", "p")
    },
    Some(s"""WITH daily AS (
              ${Det.sqlDailyCents("v")}),
             rk AS (SELECT flag, v,
                      row_number() OVER (PARTITION BY flag ORDER BY d) - 1
                        AS t
                    FROM daily),
             pp AS (SELECT CAST(unnest(range(2, 15)) AS INT) AS p),
             f AS (SELECT flag, p, count(*) AS n_days,
                     CAST(SUM(CAST(v // 100 AS DECIMAL(24,0))
                       * CAST(cos(CAST(2.0 AS DOUBLE) * pi()
                           * CAST(t % p AS DOUBLE) / CAST(p AS DOUBLE))
                         AS DECIMAL(8,6))) AS DOUBLE) AS sx,
                     CAST(SUM(CAST(v // 100 AS DECIMAL(24,0))
                       * CAST(sin(CAST(2.0 AS DOUBLE) * pi()
                           * CAST(t % p AS DOUBLE) / CAST(p AS DOUBLE))
                         AS DECIMAL(8,6))) AS DOUBLE) AS sy
                   FROM rk CROSS JOIN pp GROUP BY flag, p),
             pw AS (SELECT flag, p, n_days, sx * sx + sy * sy AS power
                    FROM f)
            SELECT flag, p, n_days, power,
                   CASE WHEN row_number() OVER (PARTITION BY flag
                       ORDER BY power DESC, p) = 1
                     THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                     AS is_peak
            FROM pw ORDER BY flag, p"""))

  /** GROUPED FEATURE SCALING (z-score + min-max) — the
    * StandardScaler/MinMaxScaler preprocessing stage every tabular-ML
    * pipeline runs, per-group (nation) so each segment normalizes
    * against its own distribution: z = (x−μ)/σ with the population σ,
    * mm = (x−min)/(max−min), both NULL-guarded for degenerate groups
    * (zero variance / zero range — the SAX r13-ADVICE posture). Balance
    * cents ride the DECIMAL(38,0) carrier (sums of squares overflow
    * BIGINT at scale); μ, σ, z are ONE shared formula on identical
    * operands (scale-0 decimals convert to double in a single rounding
    * in both engines — no 10^s division). Scale: one bounded (25-row)
    * stats aggregate broadcast back onto the fact scan — the scaler is
    * a map-side transform, the q_feature_target_encode shape.
    */
  val qFeatureScale = Q(
    "q_feature_scale",
    (s, dir) => {
      val varFml = "(CAST(n AS DOUBLE) * CAST(svv AS DOUBLE) " +
        "- CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))"
      val zFml = s"CASE WHEN $varFml <= CAST(0.0 AS DOUBLE) THEN NULL " +
        "ELSE (CAST(x AS DOUBLE) - CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))" +
        s" / sqrt($varFml / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) END"
      val mmFml = "CASE WHEN mx - mn = 0 THEN NULL " +
        "ELSE (CAST(x AS DOUBLE) - CAST(mn AS DOUBLE)) " +
        "/ (CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE)) END"
      val c = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey").as("nat"),
          Det.cents("c_acctbal").as("x"))
      val st = c.groupBy("nat")
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast(Dec0)).cast(Dec0).as("sv"),
          sum((col("x") * col("x")).cast(Dec0)).cast(Dec0).as("svv"),
          min(col("x")).as("mn"), max(col("x")).as("mx"))
      c.join(broadcast(st), Seq("nat"))
        .select(col("c_custkey"), col("nat"), col("x").as("cents"),
          expr(zFml).as("z"), expr(mmFml).as("mm"))
        .orderBy("c_custkey")
    },
    Some(s"""WITH c AS (SELECT c_custkey, c_nationkey AS nat,
                    ${Det.sqlCents("c_acctbal")} AS x
                  FROM customer),
             st AS (SELECT nat, count(*) AS n,
                      CAST(sum(x) AS HUGEINT) AS sv,
                      CAST(sum(x * x) AS HUGEINT) AS svv,
                      min(x) AS mn, max(x) AS mx
                    FROM c GROUP BY nat)
            SELECT c.c_custkey, c.nat, c.x AS cents,
                   CASE WHEN (CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
                       - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
                       <= CAST(0.0 AS DOUBLE) THEN NULL
                     ELSE (CAST(x AS DOUBLE)
                       - CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
                       / sqrt((CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
                         - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) END
                     AS z,
                   CASE WHEN mx - mn = 0 THEN NULL
                     ELSE (CAST(x AS DOUBLE) - CAST(mn AS DOUBLE))
                       / (CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE)) END
                     AS mm
            FROM c JOIN st ON c.nat = st.nat
            ORDER BY c.c_custkey"""))

  /** DYNAMIC TIME WARPING distance between the per-flag daily-revenue
    * series, every flag pair — the elastic-alignment similarity measure
    * (Sakoe–Chiba's public formulation) behind series clustering and
    * motif search, a whole-operator semantics Spark has no primitive
    * for. Shape: each series is first PAA-compressed to 64 balanced
    * integer segments (the q_time_sax split — floor((rn−1)·64/n), exact
    * sums), so the DP is a BOUNDED 64×64 program per pair and the
    * full-resolution series never leaves its partition; the classic
    * Sakoe–Chiba band is the further scale knob (unneeded at 64²). The
    * DP itself runs IN-PLAN as a nested `aggregate` higher-order fold —
    * outer fold over ys carrying the DP row, inner fold over xs
    * building the next row from cost |x−y| + min(left, up, diag) — no
    * collect, no driver loop, no UDF: pure Catalyst expressions over an
    * ALL-BIGINT state, so the distance is exact in both engines. The
    * DuckDB oracle cannot fold with a list accumulator; it replays the
    * identical recurrence as a recursive CTE over j using the
    * prefix-min reformulation new[i] = P[i] + min_{k≤i}(M[k] − P[k−1])
    * (M[k] = min(old[k], old[k−1])) — different mechanics, same exact
    * integers, which is the point of an integer DP. try_element_at +
    * ANSI-safe guards handle the row edges (index 0 throws under ANSI).
    */
  val qTimeDtw = Q(
    "q_time_dtw",
    (s, dir) => {
      val wRk = Window.partitionBy("flag").orderBy("d")
      val daily = Det.dailyCents(s, dir, "v")
        .withColumn("rn", row_number().over(wRk))
      val n = daily.groupBy("flag").agg(count(lit(1)).as("n_days"))
      val ser = daily.join(broadcast(n), Seq("flag"))
        .withColumn("seg", expr("CAST(((rn - 1) * 64) DIV n_days AS INT)"))
        .groupBy("flag", "n_days", "seg")
        .agg(sum(col("v")).as("sv"))
        .groupBy("flag", "n_days")
        .agg(expr("transform(sort_array(collect_list(struct(seg, sv))), " +
          "x -> x.sv)").as("arr"))
      val dpFml =
        """aggregate(
             slice(ys, 2, greatest(size(ys) - 1, 0)),
             aggregate(xs, CAST(array() AS ARRAY<BIGINT>),
               (acc, x) -> concat(acc, array(
                 coalesce(try_element_at(acc, -1), CAST(0 AS BIGINT))
                   + abs(x - try_element_at(ys, 1))))),
             (old, yj) -> aggregate(xs, CAST(array() AS ARRAY<BIGINT>),
               (acc, x) -> concat(acc, array(
                 abs(x - yj) + least(
                   try_element_at(acc, -1),
                   if(size(acc) = 0, CAST(NULL AS BIGINT),
                      try_element_at(old, size(acc))),
                   try_element_at(old, size(acc) + 1))))))"""
      ser.select(col("flag").as("flag_a"), col("n_days").as("n_a"),
          col("arr").as("xs"))
        .join(broadcast(ser.select(col("flag").as("flag_b"),
          col("n_days").as("n_b"), col("arr").as("ys"))),
          col("flag_a") < col("flag_b"))
        .select(col("flag_a"), col("flag_b"), col("n_a"), col("n_b"),
          expr(s"try_element_at($dpFml, -1)").as("dtw"),
          expr(s"CAST(try_element_at($dpFml, -1) AS DOUBLE) " +
            "/ CAST(size(xs) + size(ys) AS DOUBLE)").as("dtw_per_step"))
        .orderBy("flag_a", "flag_b")
    },
    Some {
      // oracle-side helpers, inlined below: cost[t], its prefix sums and
      // the prefix-min reformulation -- all exact BIGINT list math
      val cost = "([abs(xs[t] - ys[j + 1]) FOR t IN range(1, len(xs) + 1)])"
      s"""WITH RECURSIVE daily AS (
              ${Det.sqlDailyCents("v")}),
             rk AS (SELECT flag, v,
                      row_number() OVER (PARTITION BY flag ORDER BY d)
                        AS rn,
                      count(*) OVER (PARTITION BY flag) AS n_days
                    FROM daily),
             paa AS (SELECT flag, n_days,
                       ((rn - 1) * 64) // n_days AS seg,
                       CAST(sum(v) AS BIGINT) AS sv
                     FROM rk GROUP BY flag, n_days, ((rn - 1) * 64)
                       // n_days),
             ser AS (SELECT flag, n_days,
                       list(sv ORDER BY seg) AS arr
                     FROM paa GROUP BY flag, n_days),
             pairs AS (SELECT a.flag AS fa, b.flag AS fb,
                         a.n_days AS n_a, b.n_days AS n_b,
                         a.arr AS xs, b.arr AS ys
                       FROM ser a JOIN ser b ON a.flag < b.flag),
             dp AS (
               SELECT fa, fb, n_a, n_b, xs, ys, 1 AS j,
                 [CAST(list_sum([abs(xs[t] - ys[1])
                            FOR t IN range(1, i + 1)]) AS BIGINT)
                  FOR i IN range(1, len(xs) + 1)] AS row
               FROM pairs
               UNION ALL
               SELECT fa, fb, n_a, n_b, xs, ys, j + 1,
                 [CAST(list_sum($cost[1:i])
                    + list_min([
                        CAST((CASE WHEN k = 1 THEN row[1]
                              ELSE least(row[k], row[k - 1]) END)
                        - (CASE WHEN k = 1 THEN 0
                                ELSE list_sum($cost[1:k - 1]) END)
                          AS BIGINT)
                        FOR k IN range(1, i + 1)]) AS BIGINT)
                  FOR i IN range(1, len(xs) + 1)] AS row
               FROM dp WHERE j < len(ys))
            SELECT fa AS flag_a, fb AS flag_b, n_a, n_b,
                   row[len(xs)] AS dtw,
                   CAST(row[len(xs)] AS DOUBLE)
                     / CAST(len(xs) + len(ys) AS DOUBLE) AS dtw_per_step
            FROM dp WHERE j = len(ys)
            ORDER BY flag_a, flag_b"""
    })

  /** Lexical diversity per corpus source — type/token ratio and
    * Herdan's C = ln(types)/ln(tokens), the LENGTH-ROBUST diversity
    * measure (raw TTR collapses as corpora grow, so cross-source TTR
    * comparison is meaningless without it): exact type/token census
    * per source slice from two vocab-keyed aggregates, both ratios
    * round-6 shared finals (Herdan rides libm ln — the last-ulp
    * guard). The cross-source readout data curation uses to spot
    * template-heavy or boilerplate-degenerate slices. Scale:
    * vocabulary-bounded, not corpus-bounded, after the one scan —
    * and `source` rides THROUGH the token generator (the r14 text
    * re-joined the exploded stream to documents on doc_id to recover
    * it: one whole avoidable shuffle of the token stream, now gone).
    */
  val qTextLexicalDiversity = Q(
    "q_text_lexical_diversity",
    (s, dir) => {
      val toks = graft.operators.Llm.tokens(
        Tables.documents(s, dir), "source")
      toks.groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("tok")).as("n_types"))
        .select(col("source"), col("n_tokens"), col("n_types"),
          expr("round(CAST(n_types AS DOUBLE)" +
            " / CAST(n_tokens AS DOUBLE), 6)").as("ttr"),
          expr("CASE WHEN n_tokens <= 1 THEN NULL" +
            " ELSE round(ln(CAST(n_types AS DOUBLE))" +
            " / ln(CAST(n_tokens AS DOUBLE)), 6) END").as("herdan_c"))
        .orderBy("source")
    },
    Some("""WITH toks AS (SELECT doc_id, source, tok
                  FROM (SELECT doc_id, source,
                          unnest(string_split(text, ' ')) AS tok
                        FROM documents)
                  WHERE tok <> ''),
             m AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
                     CAST(count(DISTINCT tok) AS BIGINT) AS n_types
                   FROM toks GROUP BY source)
            SELECT source, n_tokens, n_types,
                   round(CAST(n_types AS DOUBLE)
                     / CAST(n_tokens AS DOUBLE), 6) AS ttr,
                   CASE WHEN n_tokens <= 1 THEN NULL
                     ELSE round(ln(CAST(n_types AS DOUBLE))
                       / ln(CAST(n_tokens AS DOUBLE)), 6) END AS herdan_c
            FROM m ORDER BY source"""))

  /** Trimmed mean per returnflag — the DROP-the-tails robust location
    * next to q_agg_winsorize's CLIP-the-tails (different bias
    * trade: trimming discards outlier mass entirely, winsorizing
    * preserves its count at the fence): same engine-identical round-6
    * percentile fences, mean over the strictly-inside rows via the
    * §7.2 decimal sum, trim census alongside raw mean for contrast.
    * Scale: fence broadcast + one scan, like the winsorize twin.
    */
  val qAggTrimmedMean = Q(
    "q_agg_trimmed_mean",
    (s, dir) => {
      val fences = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("flag"))
        .agg(round(expr("percentile(l_extendedprice, 0.05)"), 6).as("p05"),
          round(expr("percentile(l_extendedprice, 0.95)"), 6).as("p95"))
      Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
          col("l_extendedprice").as("v"))
        .join(broadcast(fences), "flag")
        .groupBy("flag")
        .agg(count(lit(1)).as("n"),
          sum(when(col("v") < col("p05") || col("v") > col("p95"), 1L)
            .otherwise(0L)).as("n_trimmed"),
          Det.davg(col("v")).as("mean_raw"),
          Det.davg(when(col("v") >= col("p05") && col("v") <= col("p95"),
            col("v"))).as("mean_trimmed"))
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
                     AS BIGINT) AS n_trimmed,
                   ${Det.sqlAvg("v")} AS mean_raw,
                   ${Det.sqlAvg(
                     "CASE WHEN v >= p05 AND v <= p95 THEN v END")}
                     AS mean_trimmed
            FROM v JOIN fences ON v.flag = fences.flag
            GROUP BY v.flag ORDER BY v.flag"""))

  /** Odds ratio of the 2×2 (deep discount × returned) table with the
    * Woolf log-CI — epidemiology's effect measure for binary
    * exposure/outcome (the multiplicative companion to q_ab_lift's
    * additive lift): OR = ad/bc over exact cell counts, ln OR ±
    * 1.96·√(1/a+1/b+1/c+1/d) exponentiated back, ln/exp outputs
    * round-6'd (the libm last-ulp guard), zero-cell NULL (the honest
    * answer; Haldane's +½ is a POLICY choice left to the caller).
    * Scale: one census aggregate, one row.
    */
  val qAggOddsRatio = Q(
    "q_agg_odds_ratio",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .select(
          (round(col("l_discount") * 100).cast("int") >= 5).as("e"),
          (col("l_returnflag") === "R").as("y"))
        .agg(
          sum(when(col("e") && col("y"), 1L).otherwise(0L)).as("a"),
          sum(when(col("e") && !col("y"), 1L).otherwise(0L)).as("b"),
          sum(when(!col("e") && col("y"), 1L).otherwise(0L)).as("c"),
          sum(when(!col("e") && !col("y"), 1L).otherwise(0L)).as("d"))
        .select(col("a"), col("b"), col("c"), col("d"),
          expr("CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN NULL" +
            " ELSE round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)" +
            " / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)), 6) END")
            .as("odds_ratio"),
          expr("""CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN NULL
                   ELSE round(exp(ln(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                     / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
                     - 1.96 * sqrt(1.0 / CAST(a AS DOUBLE)
                       + 1.0 / CAST(b AS DOUBLE)
                       + 1.0 / CAST(c AS DOUBLE)
                       + 1.0 / CAST(d AS DOUBLE))), 6) END""").as("ci_lo"),
          expr("""CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN NULL
                   ELSE round(exp(ln(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                     / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
                     + 1.96 * sqrt(1.0 / CAST(a AS DOUBLE)
                       + 1.0 / CAST(b AS DOUBLE)
                       + 1.0 / CAST(c AS DOUBLE)
                       + 1.0 / CAST(d AS DOUBLE))), 6) END""").as("ci_hi"))
    },
    Some("""WITH p AS (SELECT
                    (CAST(round(l_discount * 100) AS INTEGER) >= 5) AS e,
                    (l_returnflag = 'R') AS y
                  FROM lineitem),
             m AS (SELECT
                     CAST(sum(CASE WHEN e AND y THEN 1 ELSE 0 END)
                       AS BIGINT) AS a,
                     CAST(sum(CASE WHEN e AND NOT y THEN 1 ELSE 0 END)
                       AS BIGINT) AS b,
                     CAST(sum(CASE WHEN NOT e AND y THEN 1 ELSE 0 END)
                       AS BIGINT) AS c,
                     CAST(sum(CASE WHEN NOT e AND NOT y THEN 1 ELSE 0 END)
                       AS BIGINT) AS d
                   FROM p)
            SELECT a, b, c, d,
                   CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN NULL
                     ELSE round(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                       / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)), 6) END
                     AS odds_ratio,
                   CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN NULL
                     ELSE round(exp(ln(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                       / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
                       - 1.96 * sqrt(1.0 / CAST(a AS DOUBLE)
                         + 1.0 / CAST(b AS DOUBLE)
                         + 1.0 / CAST(c AS DOUBLE)
                         + 1.0 / CAST(d AS DOUBLE))), 6) END AS ci_lo,
                   CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN NULL
                     ELSE round(exp(ln(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                       / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
                       + 1.96 * sqrt(1.0 / CAST(a AS DOUBLE)
                         + 1.0 / CAST(b AS DOUBLE)
                         + 1.0 / CAST(c AS DOUBLE)
                         + 1.0 / CAST(d AS DOUBLE))), 6) END AS ci_hi
            FROM m"""))

  /** Cronbach's alpha — internal-consistency reliability of a 5-item
    * binary scale (do these indicators measure ONE underlying trait?
    * — the psychometric gate before anyone averages survey items or
    * composite risk flags): items are five deterministic lineitem
    * indicators, α = k/(k−1)·(1 − Σσᵢ²/σ_total²) where every variance
    * comes from ONE exact-integer moment aggregate (binary items: Σxᵢ
    * and the item-sum's Σs, Σs² — s ∈ 0..5 so all carriers are tiny),
    * population variances, one shared final with a zero-variance NULL
    * guard. Scale: one scan, one row — the sufficient-statistics
    * pattern again.
    */
  val qAggCronbach = Q(
    "q_agg_cronbach",
    (s, dir) => {
      val base = Tables.lineitem(s, dir)
        .select(
          when(round(col("l_discount") * 100).cast("int") >= 5, 1L)
            .otherwise(0L).as("i1"),
          when(col("l_quantity").cast("int") >= 25, 1L).otherwise(0L)
            .as("i2"),
          when(round(col("l_tax") * 100).cast("int") >= 4, 1L)
            .otherwise(0L).as("i3"),
          when(col("l_linestatus") === "F", 1L).otherwise(0L).as("i4"),
          when(expr("month(l_shipdate) >= 7"), 1L).otherwise(0L).as("i5"))
        .withColumn("s", expr("i1 + i2 + i3 + i4 + i5"))
      base.agg(count(lit(1)).as("n"),
        sum(col("i1")).as("s1"), sum(col("i2")).as("s2"),
        sum(col("i3")).as("s3"), sum(col("i4")).as("s4"),
        sum(col("i5")).as("s5"),
        sum(col("s")).as("ss"), sum(col("s") * col("s")).as("sss"))
        .select(col("n"),
          expr("""(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                  * (1.0 - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                + (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                  * (1.0 - CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                + (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
                  * (1.0 - CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
                + (CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE))
                  * (1.0 - CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE))
                + (CAST(s5 AS DOUBLE) / CAST(n AS DOUBLE))
                  * (1.0 - CAST(s5 AS DOUBLE) / CAST(n AS DOUBLE))""")
            .as("sum_item_var"),
          expr("""CAST(sss AS DOUBLE) / CAST(n AS DOUBLE)
                  - (CAST(ss AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(ss AS DOUBLE) / CAST(n AS DOUBLE))""")
            .as("var_total"))
        .select(col("n"), col("sum_item_var"), col("var_total"),
          expr("CASE WHEN var_total <= 0 THEN NULL" +
            " ELSE (5.0 / 4.0) * (1.0 - sum_item_var / var_total) END")
            .as("alpha"))
    },
    Some("""WITH b AS (SELECT
                    CASE WHEN CAST(round(l_discount * 100) AS INTEGER)
                         >= 5 THEN 1 ELSE 0 END AS i1,
                    CASE WHEN CAST(l_quantity AS INTEGER) >= 25
                         THEN 1 ELSE 0 END AS i2,
                    CASE WHEN CAST(round(l_tax * 100) AS INTEGER) >= 4
                         THEN 1 ELSE 0 END AS i3,
                    CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END AS i4,
                    CASE WHEN month(CAST(l_shipdate AS DATE)) >= 7
                         THEN 1 ELSE 0 END AS i5
                  FROM lineitem),
             b2 AS (SELECT *, i1 + i2 + i3 + i4 + i5 AS s FROM b),
             m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(i1) AS BIGINT) AS s1,
                     CAST(sum(i2) AS BIGINT) AS s2,
                     CAST(sum(i3) AS BIGINT) AS s3,
                     CAST(sum(i4) AS BIGINT) AS s4,
                     CAST(sum(i5) AS BIGINT) AS s5,
                     CAST(sum(s) AS BIGINT) AS ss,
                     CAST(sum(s * s) AS BIGINT) AS sss
                   FROM b2),
             d AS (SELECT n,
                     (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (1.0 - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                     + (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (1.0 - CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))
                     + (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (1.0 - CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))
                     + (CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (1.0 - CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE))
                     + (CAST(s5 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (1.0 - CAST(s5 AS DOUBLE) / CAST(n AS DOUBLE))
                       AS sum_item_var,
                     CAST(sss AS DOUBLE) / CAST(n AS DOUBLE)
                       - (CAST(ss AS DOUBLE) / CAST(n AS DOUBLE))
                         * (CAST(ss AS DOUBLE) / CAST(n AS DOUBLE))
                       AS var_total
                   FROM m)
            SELECT n, sum_item_var, var_total,
                   CASE WHEN var_total <= 0 THEN NULL
                     ELSE (5.0 / 4.0) * (1.0 - sum_item_var / var_total)
                     END AS alpha
            FROM d"""))

  /** ENTROPY RATE of the user-event Markov chain — how predictable is
    * the next event, in bits-per-step, the single-number sequel to
    * q_markov_transitions' full grid and q_seq_markov_eval's top-1
    * accuracy: H = −Σ_s π̂_s Σ_t p_st·log2(p_st) with π̂ the empirical
    * source distribution over transitions; every term is a shared IEEE
    * product over exact-integer ratios, Dec12-quantized before the
    * bounded |types|²-cell sum (the mutual-info doctrine with log2 —
    * the last-ulp class). Also reports the zeroth-order entropy (the
    * i.i.d. upper bound) — the GAP is the sequence structure the chain
    * explains. Scale: one window pass + bounded grids.
    */
  val qSeqEntropyRate = Q(
    "q_seq_entropy_rate",
    (s, dir) => {
      val wNext = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val trans = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("src"))
        .withColumn("dst", lead(col("src"), 1).over(wNext))
        .where(col("dst").isNotNull)
        .groupBy("src", "dst").agg(count(lit(1)).as("c"))
      val srcTot = trans.groupBy("src").agg(sum(col("c")).as("cs"))
      val tot = trans.agg(sum(col("c")).as("t"))
      val hRate = trans.join(broadcast(srcTot), "src")
        .crossJoin(broadcast(tot))
        .agg(sum(expr(
          """CAST(-(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
              * log2(CAST(c AS DOUBLE) / CAST(cs AS DOUBLE))
              AS DECIMAL(38,12))""").cast(Dec12)).cast("double")
          .as("h_rate"))
      val h0 = srcTot.crossJoin(broadcast(tot))
        .agg(sum(expr(
          """CAST(-(CAST(cs AS DOUBLE) / CAST(t AS DOUBLE))
              * log2(CAST(cs AS DOUBLE) / CAST(t AS DOUBLE))
              AS DECIMAL(38,12))""").cast(Dec12)).cast("double")
          .as("h_zero"))
      tot.crossJoin(broadcast(hRate)).crossJoin(broadcast(h0))
        .select(col("t").as("n_transitions"), col("h_rate"),
          col("h_zero"),
          expr("h_zero - h_rate").as("structure_gain_bits"))
    },
    Some("""WITH seq AS (SELECT event_type AS src,
                    lead(event_type) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS dst
                  FROM events),
             tr AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS c
                    FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2),
             st AS (SELECT src, CAST(sum(c) AS BIGINT) AS cs
                    FROM tr GROUP BY src),
             tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM tr),
             hr AS (SELECT CAST(sum(CAST(
                      -(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
                      * log2(CAST(c AS DOUBLE) / CAST(cs AS DOUBLE))
                      AS DECIMAL(38,12))) AS DOUBLE) AS h_rate
                    FROM tr JOIN st ON tr.src = st.src CROSS JOIN tot),
             h0 AS (SELECT CAST(sum(CAST(
                      -(CAST(cs AS DOUBLE) / CAST(t AS DOUBLE))
                      * log2(CAST(cs AS DOUBLE) / CAST(t AS DOUBLE))
                      AS DECIMAL(38,12))) AS DOUBLE) AS h_zero
                    FROM st CROSS JOIN tot)
            SELECT t AS n_transitions, h_rate, h_zero,
                   h_zero - h_rate AS structure_gain_bits
            FROM tot CROSS JOIN hr CROSS JOIN h0"""))

  /** Index of dispersion (variance-to-mean ratio) of daily order
    * counts per priority — the Poisson-ness check that decides which
    * model a count series deserves (VMR ≈ 1 Poisson, > 1 overdispersed
    * → negative-binomial territory, < 1 regular): daily counts are
    * exact integers on the bounded calendar axis, VMR and the
    * dispersion statistic (n−1)·s²/x̄ (the χ²_{n−1} test quantity) are
    * shared finals over one moment aggregate per priority. Scale: two
    * bounded rollups, 5 rows out.
    */
  val qAggDispersion = Q(
    "q_agg_dispersion",
    (s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority").as("pri"),
          to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("c"))
      daily.groupBy("pri")
        .agg(count(lit(1)).as("n_days"), sum(col("c")).as("s"),
          sum(col("c") * col("c")).as("ss"))
        .select(col("pri"), col("n_days"),
          expr("CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)").as("mean_c"),
          expr("""CASE WHEN n_days <= 1 THEN NULL ELSE
                   (CAST(ss AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                      / CAST(n_days AS DOUBLE))
                   / CAST(n_days - 1 AS DOUBLE) END""").as("var_c"))
        .select(col("pri"), col("n_days"), col("mean_c"), col("var_c"),
          expr("CASE WHEN mean_c <= 0 OR var_c IS NULL THEN NULL" +
            " ELSE var_c / mean_c END").as("vmr"),
          expr("CASE WHEN mean_c <= 0 OR var_c IS NULL THEN NULL" +
            " ELSE CAST(n_days - 1 AS DOUBLE) * var_c / mean_c END")
            .as("dispersion_stat"))
        .orderBy("pri")
    },
    Some("""WITH daily AS (SELECT o_orderpriority AS pri,
                    CAST(o_orderdate AS DATE) AS d,
                    CAST(count(*) AS BIGINT) AS c
                  FROM orders GROUP BY 1, 2),
             m AS (SELECT pri, CAST(count(*) AS BIGINT) AS n_days,
                     CAST(sum(c) AS BIGINT) AS s,
                     CAST(sum(c * c) AS BIGINT) AS ss
                   FROM daily GROUP BY pri),
             d2 AS (SELECT pri, n_days,
                      CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_c,
                      CASE WHEN n_days <= 1 THEN NULL ELSE
                        (CAST(ss AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                           / CAST(n_days AS DOUBLE))
                        / CAST(n_days - 1 AS DOUBLE) END AS var_c
                    FROM m)
            SELECT pri, n_days, mean_c, var_c,
                   CASE WHEN mean_c <= 0 OR var_c IS NULL THEN NULL
                     ELSE var_c / mean_c END AS vmr,
                   CASE WHEN mean_c <= 0 OR var_c IS NULL THEN NULL
                     ELSE CAST(n_days - 1 AS DOUBLE) * var_c / mean_c END
                     AS dispersion_stat
            FROM d2 ORDER BY pri"""))

  /** McNemar's paired test — compare two classifiers on the SAME rows
    * (the unpaired t/χ² comparison is wrong when predictions share the
    * rows; only the DISCORDANT cells carry information): rule A
    * (discount ≥ 5%) vs rule B (quantity ≥ 25) predicting the
    * returned flag, the full agree/disagree census, and the
    * continuity-corrected statistic max(|b−c|−1, 0)²/(b+c) — one
    * shared formula over exact integers, NULL when b+c = 0 (identical
    * classifiers — no evidence either way). The clamp matters: at
    * b = c > 0 the uncorrected |b−c|−1 = −1 would square to a
    * SPURIOUS positive 1/(b+c); standard practice floors the
    * corrected difference at 0 so perfect discordance symmetry reads
    * χ² = 0. Scale: ONE map-combining aggregate; the census is 4
    * numbers regardless of corpus size.
    */
  val qEvalMcnemar = Q(
    "q_eval_mcnemar",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .select(
          (col("l_returnflag") === "R").as("y"),
          (round(col("l_discount") * 100).cast("int") >= 5).as("pa"),
          (col("l_quantity").cast("int") >= 25).as("pb"))
        .select(
          (col("pa") === col("y")).as("ca"),
          (col("pb") === col("y")).as("cb"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("ca") && col("cb"), 1L).otherwise(0L))
            .as("both_right"),
          sum(when(col("ca") && !col("cb"), 1L).otherwise(0L))
            .as("only_a"),
          sum(when(!col("ca") && col("cb"), 1L).otherwise(0L))
            .as("only_b"),
          sum(when(!col("ca") && !col("cb"), 1L).otherwise(0L))
            .as("both_wrong"))
        .select(col("n"), col("both_right"), col("only_a"), col("only_b"),
          col("both_wrong"),
          expr("""CASE WHEN only_a + only_b = 0 THEN NULL ELSE
                   greatest(abs(CAST(only_a - only_b AS DOUBLE)) - 1.0, 0.0)
                   * greatest(abs(CAST(only_a - only_b AS DOUBLE)) - 1.0, 0.0)
                   / CAST(only_a + only_b AS DOUBLE) END""")
            .as("mcnemar_chi2"))
    },
    Some("""WITH p AS (SELECT
                    (l_returnflag = 'R') AS y,
                    (CAST(round(l_discount * 100) AS INTEGER) >= 5) AS pa,
                    (CAST(l_quantity AS INTEGER) >= 25) AS pb
                  FROM lineitem),
             c AS (SELECT (pa = y) AS ca, (pb = y) AS cb FROM p),
             m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN ca AND cb THEN 1 ELSE 0 END)
                       AS BIGINT) AS both_right,
                     CAST(sum(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END)
                       AS BIGINT) AS only_a,
                     CAST(sum(CASE WHEN NOT ca AND cb THEN 1 ELSE 0 END)
                       AS BIGINT) AS only_b,
                     CAST(sum(CASE WHEN NOT ca AND NOT cb THEN 1 ELSE 0
                              END) AS BIGINT) AS both_wrong
                   FROM c)
            SELECT n, both_right, only_a, only_b, both_wrong,
                   CASE WHEN only_a + only_b = 0 THEN NULL ELSE
                     greatest(abs(CAST(only_a - only_b AS DOUBLE)) - 1.0,
                              0.0)
                     * greatest(abs(CAST(only_a - only_b AS DOUBLE)) - 1.0,
                                0.0)
                     / CAST(only_a + only_b AS DOUBLE) END AS mcnemar_chi2
            FROM m"""))

  /** CLASS-BALANCED downsampling — the imbalance fix every classifier
    * pipeline applies before training (a 75/25 corpus teaches the
    * majority prior, not the signal): per returnflag class, keep
    * exactly n_min rows (the minority count) elected by the portable
    * row-hash order — deterministic, engine-reproducible "random"
    * sampling with a total (hash, key) order, the q_sample_weighted
    * posture applied to stratification. Output is the census: per
    * class, rows before, rows kept, kept share — plus the kept-subset
    * label distribution proving exact balance. Scale: one
    * class-partitioned rank over the hash (the shuffle is on the
    * class key; skew = the majority class is the honest cost — at
    * 100 TB swap in per-class hash-threshold sampling, documented
    * here, which needs only the bounded class counts broadcast).
    */
  val qSampleBalanced = Q(
    "q_sample_balanced",
    (s, dir) => {
      val wCls = Window.partitionBy("cls").orderBy("h", "ok", "ln")
      val rows = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("cls"),
          col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          graft.Det.pHash60(concat(col("l_orderkey"), lit(":"),
            col("l_linenumber"))).as("h"))
      val counts = rows.groupBy("cls").agg(count(lit(1)).as("n_before"))
      val nMin = counts.agg(min(col("n_before")).as("n_min"))
      rows
        .withColumn("rk", row_number().over(wCls))
        .crossJoin(broadcast(nMin))
        .where(col("rk") <= col("n_min"))
        .groupBy("cls")
        .agg(count(lit(1)).as("n_kept"))
        .join(counts, "cls")
        .crossJoin(broadcast(nMin))
        .select(col("cls"), col("n_before"), col("n_kept"),
          expr("CAST(n_kept AS DOUBLE) / CAST(n_before AS DOUBLE)")
            .as("kept_share"),
          (col("n_kept") === col("n_min")).as("is_balanced"))
        .orderBy("cls")
    },
    Some(s"""WITH rows_ AS (SELECT l_returnflag AS cls,
                    l_orderkey AS ok, l_linenumber AS ln,
                    (${graft.Det.sqlPHash60(
                      "CAST(l_orderkey AS VARCHAR) || ':' " +
                        "|| CAST(l_linenumber AS VARCHAR)")}) AS h
                  FROM lineitem),
             counts AS (SELECT cls, CAST(count(*) AS BIGINT) AS n_before
                        FROM rows_ GROUP BY cls),
             nmin AS (SELECT CAST(min(n_before) AS BIGINT) AS n_min
                      FROM counts),
             rk AS (SELECT cls,
                      row_number() OVER (PARTITION BY cls
                        ORDER BY h, ok, ln) AS rk
                    FROM rows_),
             kept AS (SELECT cls, CAST(count(*) AS BIGINT) AS n_kept
                      FROM rk, nmin WHERE rk <= n_min GROUP BY cls)
            SELECT kept.cls, n_before, n_kept,
                   CAST(n_kept AS DOUBLE) / CAST(n_before AS DOUBLE)
                     AS kept_share,
                   n_kept = n_min AS is_balanced
            FROM kept JOIN counts ON kept.cls = counts.cls
            CROSS JOIN nmin
            ORDER BY kept.cls"""))

  /** FOREIGN-KEY INFERENCE by containment profiling — the schema-
    * discovery pass every data catalog runs on an unfamiliar lake
    * (which columns JOIN?): for each candidate (child, parent) column
    * pair, |distinct(child) ∩ distinct(parent)| / |distinct(child)| —
    * containment 1.0 means every child value resolves, the FK
    * signature; a deliberately-wrong pair (suppkey→custkey) rides
    * along as the negative control. Distinct sets per column, one
    * overlap join per pair, exact integers, one shared division;
    * verdict threshold explicit in the CASE. Scale: per-column
    * distincts shuffle on the VALUE domain (key-bounded, not
    * row-bounded); the pair list is a bounded literal.
    */
  val qDqFkInference = Q(
    "q_dq_fk_inference",
    (s, dir) => {
      def pair(name: String, child: DataFrame, parent: DataFrame) = {
        val c = child.toDF("v").distinct()
        val p = parent.toDF("pv").distinct()
        val nC = c.agg(count(lit(1)).as("n_child"))
        val ov = c.join(p, col("v") === col("pv"))
          .agg(count(lit(1)).as("n_match"))
        nC.crossJoin(ov).select(lit(name).as("candidate"),
          col("n_child"), col("n_match"))
      }
      val li = Tables.lineitem(s, dir)
      val res = Seq(
        pair("lineitem.orderkey->orders.orderkey",
          li.select(col("l_orderkey")),
          Tables.orders(s, dir).select(col("o_orderkey"))),
        pair("lineitem.partkey->part.partkey",
          li.select(col("l_partkey")),
          Tables.part(s, dir).select(col("p_partkey"))),
        pair("orders.custkey->customer.custkey",
          Tables.orders(s, dir).select(col("o_custkey")),
          Tables.customer(s, dir).select(col("c_custkey"))),
        pair("lineitem.suppkey->supplier.suppkey",
          li.select(col("l_suppkey")),
          Tables.supplier(s, dir).select(col("s_suppkey"))),
        pair("lineitem.partkey->supplier.suppkey",
          li.select(col("l_partkey")),
          Tables.supplier(s, dir).select(col("s_suppkey"))))
        .reduce(_.unionAll(_))
      res
        .withColumn("containment", expr(
          "CAST(n_match AS DOUBLE) / CAST(n_child AS DOUBLE)"))
        .withColumn("verdict", expr(
          "CASE WHEN n_match = n_child THEN 'foreign_key'" +
            " WHEN containment >= 0.95 THEN 'near_fk'" +
            " ELSE 'unrelated' END"))
        .orderBy("candidate")
    },
    Some("""WITH c1 AS (SELECT 'lineitem.orderkey->orders.orderkey' AS
                      candidate,
                    (SELECT count(DISTINCT l_orderkey) FROM lineitem)
                      AS n_child,
                    (SELECT count(*) FROM
                      (SELECT DISTINCT l_orderkey FROM lineitem) c
                      JOIN (SELECT DISTINCT o_orderkey FROM orders) p
                        ON c.l_orderkey = p.o_orderkey) AS n_match),
             c2 AS (SELECT 'lineitem.partkey->part.partkey',
                    (SELECT count(DISTINCT l_partkey) FROM lineitem),
                    (SELECT count(*) FROM
                      (SELECT DISTINCT l_partkey FROM lineitem) c
                      JOIN (SELECT DISTINCT p_partkey FROM part) p
                        ON c.l_partkey = p.p_partkey)),
             c3 AS (SELECT 'orders.custkey->customer.custkey',
                    (SELECT count(DISTINCT o_custkey) FROM orders),
                    (SELECT count(*) FROM
                      (SELECT DISTINCT o_custkey FROM orders) c
                      JOIN (SELECT DISTINCT c_custkey FROM customer) p
                        ON c.o_custkey = p.c_custkey)),
             c4 AS (SELECT 'lineitem.suppkey->supplier.suppkey',
                    (SELECT count(DISTINCT l_suppkey) FROM lineitem),
                    (SELECT count(*) FROM
                      (SELECT DISTINCT l_suppkey FROM lineitem) c
                      JOIN (SELECT DISTINCT s_suppkey FROM supplier) p
                        ON c.l_suppkey = p.s_suppkey)),
             c5 AS (SELECT 'lineitem.partkey->supplier.suppkey',
                    (SELECT count(DISTINCT l_partkey) FROM lineitem),
                    (SELECT count(*) FROM
                      (SELECT DISTINCT l_partkey FROM lineitem) c
                      JOIN (SELECT DISTINCT s_suppkey FROM supplier) p
                        ON c.l_partkey = p.s_suppkey)),
             u AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2
                   UNION ALL SELECT * FROM c3 UNION ALL SELECT * FROM c4
                   UNION ALL SELECT * FROM c5)
            SELECT candidate, CAST(n_child AS BIGINT) AS n_child,
                   CAST(n_match AS BIGINT) AS n_match,
                   CAST(n_match AS DOUBLE) / CAST(n_child AS DOUBLE)
                     AS containment,
                   CASE WHEN n_match = n_child THEN 'foreign_key'
                     WHEN CAST(n_match AS DOUBLE) / CAST(n_child AS DOUBLE)
                          >= 0.95 THEN 'near_fk'
                     ELSE 'unrelated' END AS verdict
            FROM u ORDER BY candidate"""))

  /** Wald's SPRT sequential monitor per order priority — the
    * peeking-safe A/B machinery (fixed-n tests forbid looking early;
    * the SPRT's log-likelihood random walk has exact error control at
    * EVERY day): per priority-stream, daily (orders, high-value
    * orders) counts feed the LLR increment k·ln(p₁/p₀) +
    * (n−k)·ln((1−p₁)/(1−p₀)) with the two ln constants CAST-to-DOUBLE
    * literals (the bare-decimal-literal trap — ebe114f) rounded to 6
    * and carried as DECIMAL(18,6), so the priority-partitioned running
    * LLR is an EXACT decimal sum (order-safe); boundaries ±ln(19)
    * (α=β=0.05) compared on the exact carrier (LLR·10⁶ ≪ 2⁵³ — the
    * decimal→double readout is representation-exact). Output per
    * stream: decision, first crossing day each way, final LLR. Scale:
    * one rollup + one partitioned window + bounded min-aggregates.
    */
  val qAbSequentialSprt = Q(
    "q_ab_sequential_sprt",
    (s, dir) => {
      val wRun = Window.partitionBy("pri").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
      val lnA = "CAST(round(ln(CAST(0.35 AS DOUBLE)" +
        " / CAST(0.30 AS DOUBLE)), 6) AS DECIMAL(18,6))"
      val lnB = "CAST(round(ln(CAST(0.65 AS DOUBLE)" +
        " / CAST(0.70 AS DOUBLE)), 6) AS DECIMAL(18,6))"
      val bound = "CAST(round(ln(CAST(0.95 AS DOUBLE)" +
        " / CAST(0.05 AS DOUBLE)), 6) AS DECIMAL(18,6))"
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority").as("pri"),
          to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("o_totalprice") > 150000.0, 1L).otherwise(0L))
            .as("k"))
        .withColumn("inc", expr(s"k * $lnA + (n - k) * $lnB"))
        .withColumn("llr", sum(col("inc")).over(wRun))
      daily.groupBy("pri")
        .agg(count(lit(1)).as("n_days"),
          sum(col("n")).as("n_orders"),
          min(when(expr(s"llr >= $bound"), col("d"))).as("first_up"),
          min(when(expr(s"llr <= -$bound"), col("d"))).as("first_down"),
          max(col("d")).as("last_d"))
        .join(daily.select(col("pri").as("p2"), col("d").as("d2"),
          col("llr").cast(DoubleType).as("final_llr")),
          col("pri") === col("p2") && col("last_d") === col("d2"))
        .select(col("pri"), col("n_days"), col("n_orders"),
          expr("CASE WHEN first_up IS NOT NULL AND (first_down IS NULL" +
            " OR first_up <= first_down) THEN 'accept_h1'" +
            " WHEN first_down IS NOT NULL THEN 'accept_h0'" +
            " ELSE 'continue' END").as("decision"),
          col("first_up").cast(org.apache.spark.sql.types.TimestampType)
            .as("first_up"),
          col("first_down").cast(org.apache.spark.sql.types.TimestampType)
            .as("first_down"),
          col("final_llr"))
        .orderBy("pri")
    },
    Some("""WITH daily AS (
              SELECT o_orderpriority AS pri,
                     CAST(o_orderdate AS DATE) AS d,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN o_totalprice > 150000.0
                              THEN 1 ELSE 0 END) AS BIGINT) AS k
              FROM orders GROUP BY 1, 2),
             inc AS (SELECT pri, d, n, k,
                       k * CAST(round(ln(CAST(0.35 AS DOUBLE)
                             / CAST(0.30 AS DOUBLE)), 6) AS DECIMAL(18,6))
                       + (n - k) * CAST(round(ln(CAST(0.65 AS DOUBLE)
                             / CAST(0.70 AS DOUBLE)), 6) AS DECIMAL(18,6))
                         AS inc
                     FROM daily),
             run AS (SELECT pri, d, n,
                       sum(inc) OVER (PARTITION BY pri ORDER BY d
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS llr
                     FROM inc),
             agg AS (SELECT pri, CAST(count(*) AS BIGINT) AS n_days,
                       CAST(sum(n) AS BIGINT) AS n_orders,
                       min(CASE WHEN llr >=
                             CAST(round(ln(CAST(0.95 AS DOUBLE)
                               / CAST(0.05 AS DOUBLE)), 6)
                               AS DECIMAL(18,6))
                           THEN d END) AS first_up,
                       min(CASE WHEN llr <=
                             -CAST(round(ln(CAST(0.95 AS DOUBLE)
                               / CAST(0.05 AS DOUBLE)), 6)
                               AS DECIMAL(18,6))
                           THEN d END) AS first_down,
                       max(d) AS last_d
                     FROM run GROUP BY pri)
            SELECT agg.pri, n_days, n_orders,
                   CASE WHEN first_up IS NOT NULL AND (first_down IS NULL
                       OR first_up <= first_down) THEN 'accept_h1'
                     WHEN first_down IS NOT NULL THEN 'accept_h0'
                     ELSE 'continue' END AS decision,
                   CAST(first_up AS TIMESTAMP) AS first_up,
                   CAST(first_down AS TIMESTAMP) AS first_down,
                   CAST(llr AS DOUBLE) AS final_llr
            FROM agg JOIN run ON agg.pri = run.pri AND agg.last_d = run.d
            ORDER BY agg.pri"""))

  /** Lincoln–Petersen / Chapman CAPTURE–RECAPTURE estimate of
    * vocabulary size — the mark-recapture estimator ecology uses for
    * population counts, here answering a corpus question sampling
    * answers cheaply at 100 TB: "how many distinct tokens does the
    * corpus hold?" from TWO disjoint hash-halves and their overlap
    * (Chapman: N̂ = (n₁+1)(n₂+1)/(m+1) − 1, bias-corrected and
    * division-safe by construction). The ACTUAL distinct count rides
    * along so the estimate's error is IN the output — at 100 TB one
    * keeps only the halves. All exact integers, one shared final;
    * the doc split is the portable doc-id hash. Scale: two
    * vocab-keyed distincts + one overlap join — vocabulary-bounded,
    * not corpus-bounded.
    */
  val qAggCaptureRecapture = Q(
    "q_agg_capture_recapture",
    (s, dir) => {
      val toks = graft.operators.Llm.tokens(Tables.documents(s, dir))
        .withColumn("sample",
          pmod(graft.Det.pHash60(col("doc_id")), lit(2)))
        .select(col("sample"), col("tok")).distinct()
      val a = toks.where(col("sample") === 0).select(col("tok"))
      val b = toks.where(col("sample") === 1).select(col("tok").as("tb"))
      val n1 = a.agg(count(lit(1)).as("n1"))
      val n2 = b.agg(count(lit(1)).as("n2"))
      val m = a.join(b, col("tok") === col("tb"))
        .agg(count(lit(1)).as("m"))
      val actual = toks.select("tok").distinct()
        .agg(count(lit(1)).as("actual"))
      n1.crossJoin(n2).crossJoin(m).crossJoin(actual)
        .withColumn("estimate", expr(
          "CAST((n1 + 1) * (n2 + 1) AS DOUBLE) / CAST(m + 1 AS DOUBLE)" +
            " - 1.0"))
        .withColumn("rel_error", expr(
          "(estimate - CAST(actual AS DOUBLE)) / CAST(actual AS DOUBLE)"))
    },
    Some(s"""WITH toks AS (SELECT DISTINCT
                    ((${graft.Det.sqlPHash60("doc_id")}) % 2 + 2) % 2
                      AS sample, tok
                  FROM (SELECT doc_id,
                          unnest(string_split(text, ' ')) AS tok
                        FROM documents)
                  WHERE tok <> ''),
             n1 AS (SELECT CAST(count(*) AS BIGINT) AS n1 FROM toks
                    WHERE sample = 0),
             n2 AS (SELECT CAST(count(*) AS BIGINT) AS n2 FROM toks
                    WHERE sample = 1),
             m AS (SELECT CAST(count(*) AS BIGINT) AS m
                   FROM (SELECT tok FROM toks WHERE sample = 0) a
                   JOIN (SELECT tok AS tb FROM toks WHERE sample = 1) b
                     ON a.tok = b.tb),
             act AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS actual
                     FROM toks)
            SELECT n1, n2, m, actual,
                   CAST((n1 + 1) * (n2 + 1) AS DOUBLE)
                     / CAST(m + 1 AS DOUBLE) - 1.0 AS estimate,
                   (CAST((n1 + 1) * (n2 + 1) AS DOUBLE)
                      / CAST(m + 1 AS DOUBLE) - 1.0
                    - CAST(actual AS DOUBLE)) / CAST(actual AS DOUBLE)
                     AS rel_error
            FROM n1, n2, m, act"""))

  /** PARTITION-KEY ADVISOR — the layout-planning readout that turns
    * the library's own partitioning doctrine into a query (choose the
    * key BEFORE writing 100 TB, not after the small-files incident):
    * for each candidate column the census every planner needs —
    * distinct-partition count, largest-partition share, and a verdict
    * from the two failure axes (too few partitions → no parallelism /
    * no pruning; too many → small-files death; skewed → straggler
    * partitions). One stack() unpivot feeds ONE map-combining
    * aggregate to (candidate × value) cells; everything after is
    * per-candidate arithmetic. The thresholds are explicit constants
    * in the output's verdict CASE — policy visible, not buried.
    */
  val qLayoutPartitionAdvisor = Q(
    "q_layout_partition_advisor",
    (s, dir) => {
      val cells = Tables.lineitem(s, dir)
        .select(expr("stack(5," +
          " 'returnflag', l_returnflag," +
          " 'linestatus', l_linestatus," +
          " 'ship_month', CAST(month(l_shipdate) AS STRING)," +
          " 'ship_date', CAST(CAST(l_shipdate AS DATE) AS STRING)," +
          " 'suppkey', CAST(l_suppkey AS STRING))" +
          " AS (feature, xv)"))
        .groupBy("feature", "xv").agg(count(lit(1)).as("c"))
      cells.groupBy("feature")
        .agg(count(lit(1)).as("n_distinct"),
          sum(col("c")).as("n_rows"),
          max(col("c")).as("max_cnt"))
        .withColumn("max_share", expr(
          "CAST(max_cnt AS DOUBLE) / CAST(n_rows AS DOUBLE)"))
        .withColumn("verdict", expr(
          "CASE WHEN n_distinct < 4 THEN 'too_few_partitions'" +
            " WHEN n_distinct > 10000 THEN 'too_many_partitions'" +
            " WHEN max_share > 0.2 THEN 'skewed'" +
            " ELSE 'good' END"))
        .orderBy("feature")
    },
    Some("""WITH base AS (
              SELECT feature, xv FROM lineitem, LATERAL (VALUES
                ('returnflag', l_returnflag),
                ('linestatus', l_linestatus),
                ('ship_month',
                 CAST(month(CAST(l_shipdate AS DATE)) AS VARCHAR)),
                ('ship_date', CAST(CAST(l_shipdate AS DATE) AS VARCHAR)),
                ('suppkey', CAST(l_suppkey AS VARCHAR)))
                AS t(feature, xv)),
             cells AS (SELECT feature, xv, CAST(count(*) AS BIGINT) AS c
                       FROM base GROUP BY 1, 2),
             agg AS (SELECT feature,
                       CAST(count(*) AS BIGINT) AS n_distinct,
                       CAST(sum(c) AS BIGINT) AS n_rows,
                       CAST(max(c) AS BIGINT) AS max_cnt
                     FROM cells GROUP BY feature)
            SELECT feature, n_distinct, n_rows, max_cnt,
                   CAST(max_cnt AS DOUBLE) / CAST(n_rows AS DOUBLE)
                     AS max_share,
                   CASE WHEN n_distinct < 4 THEN 'too_few_partitions'
                     WHEN n_distinct > 10000 THEN 'too_many_partitions'
                     WHEN CAST(max_cnt AS DOUBLE) / CAST(n_rows AS DOUBLE)
                          > 0.2 THEN 'skewed'
                     ELSE 'good' END AS verdict
            FROM agg ORDER BY feature"""))

  /** Gumbel fit over monthly block maxima (extreme-value theory's
    * method-of-moments entry point) — "how big is the 1-in-12-month
    * day?" is a question about the MAXIMA distribution, which
    * ordinary moments of the daily series cannot answer: per flag,
    * daily revenue → monthly block maxima (the classic EVT blocking),
    * Gumbel parameters β = s·√6/π, µ = m̄ − γ·β (Euler–Mascheroni γ
    * as a shared literal), and the T=12 return level
    * µ − β·ln(−ln(1 − 1/12)). Maxima ride the dollar carrier (cents²
    * of a max day would exceed 2⁵³); moments are exact integers over
    * the bounded month axis; β/µ/return level are one shared formula
    * text. Scale: two bounded rollups (day, then month) — the fit is
    * O(months), the scan is the cost.
    */
  val qAggGumbelFit = Q(
    "q_agg_gumbel_fit",
    (s, dir) => {
      val maxima = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("flag"),
          to_date(col("l_shipdate")).as("d"))
        .agg(expr(s"CAST(SUM(${Det.sqlCents("l_extendedprice")})" +
          " DIV 100 AS BIGINT)").as("v"))
        .groupBy(col("flag"), trunc(col("d"), "month").as("m"))
        .agg(max(col("v")).as("mx"))
      maxima.groupBy("flag")
        .agg(count(lit(1)).as("n_blocks"),
          sum(col("mx")).as("s"),
          sum(col("mx") * col("mx")).as("ss"))
        .select(col("flag"), col("n_blocks"),
          expr("CAST(s AS DOUBLE) / CAST(n_blocks AS DOUBLE)")
            .as("mean_max"),
          expr("""CASE WHEN n_blocks <= 1 THEN NULL ELSE
                   sqrt((CAST(ss AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                           / CAST(n_blocks AS DOUBLE))
                        / CAST(n_blocks - 1 AS DOUBLE)) END""")
            .as("sd_max"))
        .select(col("flag"), col("n_blocks"), col("mean_max"),
          col("sd_max"),
          expr("sd_max * sqrt(6.0) / pi()").as("beta"))
        .select(col("flag"), col("n_blocks"), col("mean_max"),
          col("sd_max"), col("beta"),
          expr("mean_max - 0.5772156649015329 * beta").as("mu"))
        .select(col("flag"), col("n_blocks"), col("mean_max"),
          col("sd_max"), col("beta"), col("mu"),
          // CAST the literals: bare 1.0/12.0 is DECIMAL division in
          // Spark (scale-truncated to 0.083333 before ln ever runs —
          // the ebe114f literal trap, re-caught by parity here)
          expr("round(mu - beta * ln(-ln(CAST(1.0 AS DOUBLE)" +
            " - CAST(1.0 AS DOUBLE) / CAST(12.0 AS DOUBLE))), 6)")
            .as("return_level_12"))
        .orderBy("flag")
    },
    Some(s"""WITH daily AS (
              SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS d,
                CAST(SUM(${Det.sqlCents("l_extendedprice")})
                  // 100 AS BIGINT) AS v
              FROM lineitem GROUP BY 1, 2),
             mx AS (SELECT flag, date_trunc('month', d) AS m,
                      CAST(max(v) AS BIGINT) AS mx
                    FROM daily GROUP BY 1, 2),
             mo AS (SELECT flag, CAST(count(*) AS BIGINT) AS n_blocks,
                      CAST(sum(mx) AS BIGINT) AS s,
                      CAST(sum(mx * mx) AS BIGINT) AS ss
                    FROM mx GROUP BY flag),
             d1 AS (SELECT flag, n_blocks,
                      CAST(s AS DOUBLE) / CAST(n_blocks AS DOUBLE)
                        AS mean_max,
                      CASE WHEN n_blocks <= 1 THEN NULL ELSE
                        sqrt((CAST(ss AS DOUBLE)
                              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                / CAST(n_blocks AS DOUBLE))
                             / CAST(n_blocks - 1 AS DOUBLE)) END AS sd_max
                    FROM mo),
             d2 AS (SELECT *, sd_max * sqrt(6.0) / pi() AS beta FROM d1),
             d3 AS (SELECT *,
                      mean_max - 0.5772156649015329 * beta AS mu
                    FROM d2)
            SELECT flag, n_blocks, mean_max, sd_max, beta, mu,
                   round(mu - beta * ln(-ln(CAST(1.0 AS DOUBLE)
                     - CAST(1.0 AS DOUBLE) / CAST(12.0 AS DOUBLE))), 6)
                     AS return_level_12
            FROM d3 ORDER BY flag"""))

  /** Weight-of-Evidence + Information Value of the discount level
    * against the returned-flag label — the credit-scoring standard for
    * "how predictive is this binned feature" (the monotone-score
    * cousin of q_feature_select_mi's MI rank, and the encoding
    * q_feature_target_encode's smoothed means approximate): WoE_v =
    * ln((pos_v/P)/(neg_v/N)) with zero-cell levels reporting NULL
    * (excluded from IV — the honest treatment, not ±∞ or an arbitrary
    * floor), IV = Σ (pos_v/P − neg_v/N)·WoE_v with Dec12-quantized
    * terms over the ≤11 bounded levels. The ln rides exact-integer
    * ratios divided once in shared text. Scale: ONE map-combining
    * aggregate; everything after is O(levels).
    */
  val qFeatureWoeIv = Q(
    "q_feature_woe_iv",
    (s, dir) => {
      val cells = Tables.lineitem(s, dir)
        .select(round(col("l_discount") * 100).cast("int").as("v"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
        .groupBy("v")
        .agg(sum(col("y")).as("pos"),
          (count(lit(1)) - sum(col("y"))).as("neg"))
      val tot = cells.agg(sum(col("pos")).as("p"), sum(col("neg")).as("n"))
      val woe = cells.crossJoin(broadcast(tot))
        .withColumn("woe", expr(
          "CASE WHEN pos = 0 OR neg = 0 OR p = 0 OR n = 0 THEN NULL" +
            " ELSE round(ln((CAST(pos AS DOUBLE) / CAST(p AS DOUBLE))" +
            " / (CAST(neg AS DOUBLE) / CAST(n AS DOUBLE))), 6) END"))
      val iv = woe.agg(
        sum(expr("CASE WHEN woe IS NULL THEN CAST(0 AS DECIMAL(38,12))" +
          " ELSE CAST((CAST(pos AS DOUBLE) / CAST(p AS DOUBLE)" +
          " - CAST(neg AS DOUBLE) / CAST(n AS DOUBLE)) * woe" +
          " AS DECIMAL(38,12)) END")).as("ivq"))
        .select(expr("CAST(ivq AS DOUBLE)").as("iv"))
      woe.crossJoin(broadcast(iv))
        .select(col("v"), col("pos"), col("neg"), col("woe"), col("iv"))
        .orderBy("v")
    },
    Some("""WITH cells AS (SELECT CAST(round(l_discount * 100) AS INTEGER)
                      AS v,
                    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1
                             ELSE 0 END) AS BIGINT) AS pos,
                    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 0
                             ELSE 1 END) AS BIGINT) AS neg
                  FROM lineitem GROUP BY 1),
             tot AS (SELECT CAST(sum(pos) AS BIGINT) AS p,
                       CAST(sum(neg) AS BIGINT) AS n FROM cells),
             w AS (SELECT v, pos, neg, p, n,
                     CASE WHEN pos = 0 OR neg = 0 OR p = 0 OR n = 0
                       THEN NULL
                       ELSE round(
                         ln((CAST(pos AS DOUBLE) / CAST(p AS DOUBLE))
                           / (CAST(neg AS DOUBLE) / CAST(n AS DOUBLE))),
                         6) END AS woe
                   FROM cells, tot),
             iv AS (SELECT CAST(sum(CASE WHEN woe IS NULL
                       THEN CAST(0 AS DECIMAL(38,12))
                       ELSE CAST((CAST(pos AS DOUBLE) / CAST(p AS DOUBLE)
                            - CAST(neg AS DOUBLE) / CAST(n AS DOUBLE))
                            * woe AS DECIMAL(38,12)) END) AS DOUBLE) AS iv
                    FROM w)
            SELECT v, pos, neg, woe, iv
            FROM w, iv ORDER BY v"""))

  /** PARALLEL VARIANCE MERGE (the Chan/Welford shard law) — the
    * distributed-statistics primitive made oracle-visible: per-nation
    * moment shards (n, Σx, Σx²) of customer balance cents merge into
    * per-REGION variance, and the DuckDB oracle aggregates the RAW
    * rows per region directly — the hash match IS the proof that
    * shard-merge ≡ direct on exact carriers (integer/decimal sums are
    * associative; a float-moment shard would NOT satisfy this, which
    * is why the engine's every moment rides exact carriers). Σx² on
    * DECIMAL(38,0) (the q_agg_ols_multi readout pattern); mean/var are
    * shared-text finals. Scale: this is literally the map-side-combine
    * contract every two-phase aggregate in the library depends on,
    * here pinned by parity instead of trust.
    */
  val qAggVarMerge = Q(
    "q_agg_var_merge",
    (s, dir) => {
      val shards = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_regionkey").as("rk"), col("n_nationkey").as("nk"),
          Det.roundCents("c_acctbal").as("x"))
        .groupBy("rk", "nk")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))"))
            .as("ss"))
      shards.groupBy("rk")
        .agg(count(lit(1)).as("n_shards"), sum(col("n")).as("n"),
          sum(col("s")).as("s"), sum(col("ss")).as("ss"))
        .join(broadcast(Tables.region(s, dir)),
          col("rk") === col("r_regionkey"))
        .select(col("r_name").as("region"), col("n_shards"), col("n"),
          expr("CAST(s AS DOUBLE) / CAST(n AS DOUBLE)").as("mean_cents"),
          expr("CASE WHEN n <= 1 THEN NULL ELSE" +
            " (CAST(ss AS DOUBLE)" +
            " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))" +
            " / CAST(n AS DOUBLE) END").as("var_pop"))
        .orderBy("region")
    },
    Some(s"""WITH j AS (SELECT r_name AS region, n_nationkey AS nk,
                    ${Det.sqlRoundCents("c_acctbal")} AS x
                  FROM customer
                  JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey)
            SELECT region,
                   CAST(count(DISTINCT nk) AS BIGINT) AS n_shards,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS mean_cents,
                   CASE WHEN count(*) <= 1 THEN NULL ELSE
                     (CAST(sum(CAST(x AS DECIMAL(38,0))
                               * CAST(x AS DECIMAL(38,0))) AS DOUBLE)
                      - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE))
                     / CAST(count(*) AS DOUBLE) END AS var_pop
            FROM j GROUP BY region ORDER BY region"""))

  /** Value-at-Risk + EXPECTED SHORTFALL (CVaR) per order priority — the
    * coherent tail-risk readout finance reports beyond the quantile
    * itself (VaR says "the 95th-percentile order size"; CVaR says "and
    * the MEAN of everything beyond it" — subadditive, tail-sensitive):
    * VaR = the q_agg_winsorize fence surface (exact percentile rounded
    * to 6 so the fence is engine-identical), tail census + tail mean
    * over rows ≥ fence via the §7.2 decimal sum. Scale: 1-row-per-
    * group fence broadcast back onto one scan; the documented
    * percentile_approx swap applies at 100 TB.
    */
  val qAggCvar = Q(
    "q_agg_cvar",
    (s, dir) => {
      val fences = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority").as("pri"))
        .agg(round(expr("percentile(o_totalprice, 0.95)"), 6).as("var95"))
      Tables.orders(s, dir)
        .select(col("o_orderpriority").as("pri"),
          col("o_totalprice").as("v"))
        .join(broadcast(fences), "pri")
        .groupBy("pri", "var95")
        .agg(count(lit(1)).as("n"),
          sum(when(col("v") >= col("var95"), 1L).otherwise(0L))
            .as("n_tail"),
          Det.davg(when(col("v") >= col("var95"), col("v"))).as("cvar95"))
        .select(col("pri"), col("n"), col("var95"), col("n_tail"),
          col("cvar95"))
        .orderBy("pri")
    },
    Some(s"""WITH fences AS (SELECT o_orderpriority AS pri,
                    round(quantile_cont(o_totalprice, 0.95), 6) AS var95
                  FROM orders GROUP BY 1),
             v AS (SELECT o_orderpriority AS pri, o_totalprice AS v
                   FROM orders)
            SELECT v.pri, count(*) AS n, var95,
                   CAST(sum(CASE WHEN v >= var95 THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_tail,
                   ${Det.sqlAvg("CASE WHEN v >= var95 THEN v END")}
                     AS cvar95
            FROM v JOIN fences ON v.pri = fences.pri
            GROUP BY v.pri, var95 ORDER BY v.pri"""))

  /** Cohen's d effect size for every returnflag pair — the
    * "significant, but does it MATTER?" companion to q_agg_ttest
    * (p-values shrink with n; d does not): d = (x̄₁−x̄₂)/s_pooled with
    * the pooled SD from exact integer quantity moments, every pair of
    * the bounded group table via the a<b self-join. All shared-text
    * IEEE finals over exact casts, NULL on degenerate variance; the
    * standard small/medium/large≥0.8 banding reported alongside.
    * Scale: ONE map-combining moment aggregate; the pair grid is
    * |groups|² bounded.
    */
  val qAggCohensD = Q(
    "q_agg_cohens_d",
    (s, dir) => {
      val m = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("g"),
          col("l_quantity").cast("long").as("v"))
        .groupBy("g")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          sum(col("v") * col("v")).as("svv"))
      val b = m.select(col("g").as("g2"), col("n").as("n2"),
        col("sv").as("sv2"), col("svv").as("svv2"))
      m.join(b, col("g") < col("g2"))
        .select(col("g").as("group_a"), col("g2").as("group_b"),
          col("n").as("n_a"), col("n2").as("n_b"),
          expr("CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)").as("mean_a"),
          expr("CAST(sv2 AS DOUBLE) / CAST(n2 AS DOUBLE)").as("mean_b"),
          expr("""CASE WHEN n + n2 <= 2 THEN NULL ELSE
                   sqrt(((CAST(svv AS DOUBLE)
                          - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE)
                            / CAST(n AS DOUBLE))
                        + (CAST(svv2 AS DOUBLE)
                           - CAST(sv2 AS DOUBLE) * CAST(sv2 AS DOUBLE)
                             / CAST(n2 AS DOUBLE)))
                        / CAST(n + n2 - 2 AS DOUBLE)) END""")
            .as("s_pooled"))
        .withColumn("d", expr("CASE WHEN s_pooled IS NULL OR s_pooled = 0" +
          " THEN NULL ELSE (mean_a - mean_b) / s_pooled END"))
        .withColumn("band", expr("CASE WHEN d IS NULL THEN NULL" +
          " WHEN abs(d) >= 0.8 THEN 'large'" +
          " WHEN abs(d) >= 0.5 THEN 'medium'" +
          " WHEN abs(d) >= 0.2 THEN 'small'" +
          " ELSE 'negligible' END"))
        .orderBy("group_a", "group_b")
    },
    Some("""WITH m AS (SELECT l_returnflag AS g,
                    CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sv,
                    CAST(sum(CAST(l_quantity AS BIGINT)
                             * CAST(l_quantity AS BIGINT)) AS BIGINT)
                      AS svv
                  FROM lineitem GROUP BY 1),
             p AS (SELECT a.g AS group_a, b.g AS group_b,
                     a.n AS n_a, b.n AS n_b,
                     CAST(a.sv AS DOUBLE) / CAST(a.n AS DOUBLE) AS mean_a,
                     CAST(b.sv AS DOUBLE) / CAST(b.n AS DOUBLE) AS mean_b,
                     CASE WHEN a.n + b.n <= 2 THEN NULL ELSE
                       sqrt(((CAST(a.svv AS DOUBLE)
                              - CAST(a.sv AS DOUBLE) * CAST(a.sv AS DOUBLE)
                                / CAST(a.n AS DOUBLE))
                            + (CAST(b.svv AS DOUBLE)
                               - CAST(b.sv AS DOUBLE)
                                 * CAST(b.sv AS DOUBLE)
                                 / CAST(b.n AS DOUBLE)))
                            / CAST(a.n + b.n - 2 AS DOUBLE)) END
                       AS s_pooled
                   FROM m a JOIN m b ON a.g < b.g),
             p2 AS (SELECT *,
                      CASE WHEN s_pooled IS NULL OR s_pooled = 0 THEN NULL
                        ELSE (mean_a - mean_b) / s_pooled END AS d
                    FROM p)
            SELECT group_a, group_b, n_a, n_b, mean_a, mean_b, s_pooled, d,
                   CASE WHEN d IS NULL THEN NULL
                     WHEN abs(d) >= 0.8 THEN 'large'
                     WHEN abs(d) >= 0.5 THEN 'medium'
                     WHEN abs(d) >= 0.2 THEN 'small'
                     ELSE 'negligible' END AS band
            FROM p2 ORDER BY group_a, group_b"""))

  /** PORTABLE histogram-quantile sketch — the oracle-reproducible
    * member the approx-quantile family was missing (t-digest/GK live
    * JVM-side as q_agg_percentile_approx, no-oracle by design; an
    * equi-width histogram is deterministic in BOTH engines, so its
    * quantile estimates get full parity): 256 equal-width buckets over
    * order cents, p50/p90/p99 estimated by linear interpolation inside
    * the covering bucket, reported NEXT TO the exact rank-element
    * quantiles with the absolute error — the sketch's accuracy
    * contract is IN the output. All bucketing integer (DIV), cum
    * counts via the bounded b≤a self-join, interpolation one shared
    * formula. Scale: the histogram is the classic mergeable summary —
    * one map-combining aggregate to ≤256 cells; the exact side is the
    * certification truth path.
    */
  val qSketchHistQuantiles = Q(
    "q_sketch_hist_quantiles",
    (s, dir) => {
      val o = Tables.orders(s, dir).select(Det.cents("o_totalprice").as("v"))
      val rng = o.agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
        count(lit(1)).as("n"))
      val hist = o.crossJoin(broadcast(rng))
        .select(expr("least(CAST(255 AS BIGINT)," +
          " ((v - lo) * 256) DIV greatest(hi - lo + 1, 1))").as("b"))
        .groupBy("b").agg(count(lit(1)).as("c"))
      val hb = hist.select(col("b").as("b2"), col("c").as("c2"))
      val cum = hist.join(hb, col("b2") <= col("b"))
        .groupBy(col("b"), col("c"))
        .agg(sum(col("c2")).as("cum"))
      val qs = s.range(3).select(
        expr("CAST(element_at(array(50, 90, 99), CAST(id + 1 AS INT))" +
          " AS INT)").as("p"))
      val targets = qs.crossJoin(broadcast(rng))
        .withColumn("target", expr("(CAST(p AS BIGINT) * n + 99) DIV 100"))
      val bmin = targets.join(broadcast(cum), expr("cum >= target"))
        .groupBy("p", "lo", "hi", "n", "target")
        .agg(min(col("b")).as("b"))
      bmin.join(broadcast(cum), "b")
        .withColumn("width", expr(
          "CAST(greatest(hi - lo + 1, 1) AS DOUBLE) / 256.0"))
        .select(col("p"), col("n"), col("lo"), col("hi"), col("target"),
          col("b"), col("c"), col("cum"),
          expr("CAST(lo AS DOUBLE) + width * (CAST(b AS DOUBLE)" +
            " + CAST(target - (cum - c) AS DOUBLE)" +
            " / CAST(c AS DOUBLE))").as("q_est"))
        .orderBy("p")
    },
    Some(s"""WITH o AS (SELECT ${Det.sqlCents("o_totalprice")} AS v
                  FROM orders),
             rng AS (SELECT CAST(min(v) AS BIGINT) AS lo,
                       CAST(max(v) AS BIGINT) AS hi,
                       CAST(count(*) AS BIGINT) AS n FROM o),
             hist AS (SELECT least(CAST(255 AS BIGINT),
                        ((v - lo) * 256) // greatest(hi - lo + 1, 1)) AS b,
                        CAST(count(*) AS BIGINT) AS c
                      FROM o, rng GROUP BY 1),
             cum AS (SELECT a.b, a.c, CAST(sum(x.c) AS BIGINT) AS cum
                     FROM hist a JOIN hist x ON x.b <= a.b
                     GROUP BY a.b, a.c),
             qs AS (SELECT unnest([50, 90, 99]) AS p),
             t AS (SELECT CAST(p AS INTEGER) AS p, lo, hi, n,
                     (CAST(p AS BIGINT) * n + 99) // 100 AS target
                   FROM qs, rng),
             bm AS (SELECT p, lo, hi, n, target, min(b) AS b
                    FROM t JOIN cum ON cum >= target
                    GROUP BY p, lo, hi, n, target)
            SELECT p, n, lo, hi, target, bm.b, c, cum,
                   CAST(lo AS DOUBLE)
                     + (CAST(greatest(hi - lo + 1, 1) AS DOUBLE) / 256.0)
                       * (CAST(bm.b AS DOUBLE)
                          + CAST(target - (cum - c) AS DOUBLE)
                            / CAST(c AS DOUBLE)) AS q_est
            FROM bm JOIN cum ON bm.b = cum.b
            ORDER BY p"""))

  /** OFFLINE changepoint by binary segmentation (first split) — the
    * retrospective "WHEN did the level shift?" next to
    * q_changepoint_cusum's online drift alarm: per flag, elect the day
    * k minimizing SSE_left(k) + SSE_right(k) of the daily-revenue
    * series (the first step of the classic binary-segmentation
    * recursion; deeper splits re-run the operator on the halves). The
    * whole cost curve comes from INTEGER prefix sums on the
    * flag-partitioned calendar axis (dollar carrier keeps Σv² < 2⁵³ —
    * the cents² square would overflow the exact range); per-k SSE is
    * one shared IEEE formula over exact casts, the election is
    * window-free (per-flag min cost broadcast back, earliest-day
    * tie-break — q_ml_stump's pattern), gain = SSE₀ − SSE_split ≥ 0 by
    * construction. Scale: one rollup + one flag-partitioned window
    * pass + bounded election; the cost curve is calendar-bounded,
    * never corpus-bounded.
    */
  val qTimeChangepointBinseg = Q(
    "q_time_changepoint_binseg",
    (s, dir) => {
      val wRun = Window.partitionBy("flag").orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
      val daily = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("flag"),
          to_date(col("l_shipdate")).as("d"))
        .agg(expr(s"CAST(SUM(${Det.sqlCents("l_extendedprice")})" +
          " DIV 100 AS BIGINT)").as("v"))
        .withColumn("k", count(lit(1)).over(wRun))
        .withColumn("s", sum(col("v")).over(wRun))
        .withColumn("ss", sum(col("v") * col("v")).over(wRun))
      val tot = daily.groupBy("flag")
        .agg(max(col("k")).as("n"), max(col("s")).as("st"),
          max(col("ss")).as("sst"))
      val costs = daily.join(tot, "flag")
        .where(col("k") < col("n"))
        // guard IN the expression, not just the filter — the r14 ANSI
        // standing fact (Spark may evaluate projections for rows the
        // adjacent filter drops)
        .withColumn("cost", expr(
          "CASE WHEN n - k = 0 THEN NULL ELSE" +
            " (CAST(ss AS DOUBLE)" +
            " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(k AS DOUBLE))" +
            " + (CAST(sst - ss AS DOUBLE)" +
            " - CAST(st - s AS DOUBLE) * CAST(st - s AS DOUBLE)" +
            " / CAST(n - k AS DOUBLE)) END"))
      val best = costs.groupBy("flag").agg(min(col("cost")).as("c_min"))
      val elect = costs.join(broadcast(best), "flag")
        .where(col("cost") === col("c_min"))
        .groupBy("flag").agg(min(col("d")).as("split_d"))
      costs.join(broadcast(elect), "flag")
        .where(col("d") === col("split_d"))
        .select(col("flag"), col("n").as("n_days"),
          col("d").cast(org.apache.spark.sql.types.TimestampType)
            .as("split_date"),
          col("k").as("n_left"),
          expr("CAST(s AS DOUBLE) / CAST(k AS DOUBLE)").as("mean_left"),
          expr("CAST(st - s AS DOUBLE) / CAST(n - k AS DOUBLE)")
            .as("mean_right"),
          expr("CAST(sst AS DOUBLE)" +
            " - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)" +
            " / CAST(n AS DOUBLE)").as("sse0"),
          col("cost").as("sse_split"))
        .withColumn("gain", expr("sse0 - sse_split"))
        .orderBy("flag")
    },
    Some(s"""WITH daily AS (
              SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS d,
                CAST(SUM(${Det.sqlCents("l_extendedprice")})
                  // 100 AS BIGINT) AS v
              FROM lineitem GROUP BY 1, 2),
             pre AS (SELECT flag, d, v,
                       count(*) OVER w AS k,
                       CAST(sum(v) OVER w AS BIGINT) AS s,
                       CAST(sum(v * v) OVER w AS BIGINT) AS ss
                     FROM daily
                     WINDOW w AS (PARTITION BY flag ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             tot AS (SELECT flag, CAST(max(k) AS BIGINT) AS n,
                       CAST(max(s) AS BIGINT) AS st,
                       CAST(max(ss) AS BIGINT) AS sst
                     FROM pre GROUP BY flag),
             costs AS (SELECT pre.flag, d, k, s, ss, n, st, sst,
                         CASE WHEN n - k = 0 THEN NULL ELSE
                         (CAST(ss AS DOUBLE)
                          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                            / CAST(k AS DOUBLE))
                         + (CAST(sst - ss AS DOUBLE)
                            - CAST(st - s AS DOUBLE)
                              * CAST(st - s AS DOUBLE)
                              / CAST(n - k AS DOUBLE)) END AS cost
                       FROM pre JOIN tot ON pre.flag = tot.flag
                       WHERE k < n),
             best AS (SELECT flag, min(cost) AS c_min
                      FROM costs GROUP BY flag),
             elect AS (SELECT costs.flag, min(d) AS split_d
                       FROM costs JOIN best ON costs.flag = best.flag
                       WHERE cost = c_min
                       GROUP BY costs.flag)
            SELECT costs.flag, n AS n_days,
                   CAST(d AS TIMESTAMP) AS split_date, k AS n_left,
                   CAST(s AS DOUBLE) / CAST(k AS DOUBLE) AS mean_left,
                   CAST(st - s AS DOUBLE) / CAST(n - k AS DOUBLE)
                     AS mean_right,
                   CAST(sst AS DOUBLE)
                     - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
                       / CAST(n AS DOUBLE) AS sse0,
                   cost AS sse_split,
                   (CAST(sst AS DOUBLE)
                     - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
                       / CAST(n AS DOUBLE)) - cost AS gain
            FROM costs JOIN elect ON costs.flag = elect.flag
              AND costs.d = elect.split_d
            ORDER BY costs.flag"""))

  /** Per-stream FRESHNESS audit — the staleness readout every ingestion
    * SLA monitors (which event streams have stopped flowing, and for
    * how long?): per event type, row count, last-seen timestamp, lag
    * behind the corpus watermark (the GLOBAL max — a deterministic
    * reference; wall-clock "now" is banned by the determinism
    * doctrine) in exact integer µs and whole days, and the >7-day
    * stale flag. All integer timestamp arithmetic (µs since epoch —
    * the events loader's normalization contract), no floats anywhere.
    * Scale: ONE map-combining aggregate + a 1-row watermark broadcast
    * — the audit costs a scan regardless of stream count.
    */
  val qDqFreshness = Q(
    "q_dq_freshness",
    (s, dir) => {
      val perType = Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), max(col("ts")).as("last_seen"))
      val wm = perType.agg(max(col("last_seen")).as("watermark"))
      perType.crossJoin(broadcast(wm))
        .select(col("event_type"), col("n"), col("last_seen"),
          col("watermark"),
          expr("unix_micros(watermark) - unix_micros(last_seen)")
            .as("lag_us"))
        .withColumn("lag_days", expr("lag_us DIV 86400000000"))
        .withColumn("is_stale", col("lag_days") > 7)
        .orderBy("event_type")
    },
    Some("""WITH pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                    max(ts) AS last_seen
                  FROM events GROUP BY event_type),
             wm AS (SELECT max(last_seen) AS watermark FROM pt)
            SELECT event_type, n, last_seen, watermark,
                   epoch_us(watermark) - epoch_us(last_seen) AS lag_us,
                   (epoch_us(watermark) - epoch_us(last_seen))
                     // 86400000000 AS lag_days,
                   (epoch_us(watermark) - epoch_us(last_seen))
                     // 86400000000 > 7 AS is_stale
            FROM pt, wm ORDER BY event_type"""))

  /** Newman–Girvan MODULARITY of the brand partition over the
    * co-purchase graph — "is this catalog taxonomy a real community
    * structure?" (the quality score label-propagation/Louvain
    * maximize, here evaluated for a GIVEN partition): nodes = parts,
    * weighted edges = the MaxBasket-capped a<b basket self-join
    * (q_basket_pairs' graph), Q = Σ_c (e_c/m − (d_c/2m)²) from exact
    * integer sufficient statistics — intra-community edge weight e_c,
    * community strength d_c, total weight m — with per-community
    * contributions Dec12-quantized before the bounded ≤|brands| sum.
    * Brand lookups ride SHUFFLE_HASH (part is O(catalog) at 100 TB,
    * not broadcastable; the aggregate-fed sides carry tiny static
    * estimates — §7.6 trap). Output: per-community diagnostics + the
    * global Q on every row.
    */
  val qGraphModularity = Q(
    "q_graph_modularity",
    (s, dir) => {
      val wBasket = Window.partitionBy(col("okey")).orderBy(col("part"))
      val items = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
        .distinct()
        .withColumn("rn", row_number().over(wBasket))
        .where(col("rn") <= graft.operators.Relational.MaxBasket)
        .select("okey", "part")
      // Brands attach BEFORE pair generation (r18): the old shape
      // materialized the O(pairs) weighted edge list through THREE
      // pair-mass exchanges (wedge groupBy + two brand joins ≈ 50 MB
      // written at sf0.1) and then re-consumed it four times. Every
      // statistic of Q is an associative integer sum over WEDGES, so
      // the self-join's output can project straight to (ca, cb) and
      // partial-aggregate to the ≤|brands|² grid before its only
      // exchange — the pair list never exists. The items⋈part join is
      // SHUFFLE_HASH (part is O(catalog) at 100 TB, not broadcastable).
      val brand = Tables.part(s, dir)
        .select(col("p_partkey").as("part"), col("p_brand").as("c"))
      val itemsC = items.join(brand.hint("shuffle_hash"), "part")
        // r21: ONE okey-keyed exchange shared by both self-join sides
        // (the winnowing repartition pattern): without it each side
        // planned its own ENSURE_REQUIREMENTS exchange and the whole
        // distinct+window+brand-join chain executed twice (per-job bytes:
        // two identical 7.7 MB exchange-write jobs).
        .repartition(col("okey"))
      val grp = itemsC.select(col("okey"), col("part").as("pa"),
          col("c").as("ca"))
        .join(itemsC.select(col("okey").as("okey2"), col("part").as("pb"),
          col("c").as("cb")),
          col("okey") === col("okey2") && col("pa") < col("pb"))
        .groupBy("ca", "cb").agg(count(lit(1)).as("w"))
        // r21: pin the brand grid — it is ≤ |brands|² rows (625 at any
        // scale) but its lineage is the whole wedge self-join, and the
        // four consumers below (m, ec, both strength arms) re-executed
        // that chain: per-job bytes showed the wedge jobs running 4× (~60 MB
        // of the query's reads). One eager checkpoint, one execution.
        .localCheckpoint(true)
      val m = grp.agg(sum(col("w")).as("m"))
      val ec = grp.where(col("ca") === col("cb"))
        .groupBy(col("ca").as("c")).agg(sum(col("w")).as("e_c"))
      val strength = grp.select(col("ca").as("c"), col("w"))
        .union(grp.select(col("cb").as("c"), col("w")))
        .groupBy("c").agg(sum(col("w")).as("d_c"))
      val rows = strength.join(ec, Seq("c"), "left")
        .select(col("c"), coalesce(col("e_c"), lit(0L)).as("e_c"),
          col("d_c"))
        .crossJoin(broadcast(m))
        .withColumn("contrib", expr(
          "CAST(e_c AS DOUBLE) / CAST(m AS DOUBLE)" +
            " - (CAST(d_c AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))" +
            " * (CAST(d_c AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))"))
      val q = rows.agg(sum(expr("CAST(contrib AS DECIMAL(38,12))"))
        .cast("double").as("q_mod"))
      rows.crossJoin(broadcast(q))
        .select(col("c").as("community"), col("e_c"), col("d_c"),
          col("contrib"), col("q_mod"))
        .orderBy("community")
    },
    Some(s"""WITH items AS (
              SELECT okey, part FROM (
                SELECT okey, part,
                       row_number() OVER (PARTITION BY okey ORDER BY part)
                         AS rn
                FROM (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
                      FROM lineitem))
              WHERE rn <= ${graft.operators.Relational.MaxBasket}),
             edges AS (SELECT x.part AS pa, y.part AS pb,
                         CAST(count(*) AS BIGINT) AS w
                       FROM items x JOIN items y
                         ON x.okey = y.okey AND x.part < y.part
                       GROUP BY 1, 2),
             eb AS (SELECT pa, pb, w, ba.p_brand AS ca, bb.p_brand AS cb
                    FROM edges JOIN part ba ON pa = ba.p_partkey
                               JOIN part bb ON pb = bb.p_partkey),
             m AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM eb),
             ec AS (SELECT ca AS c, CAST(sum(w) AS BIGINT) AS e_c
                    FROM eb WHERE ca = cb GROUP BY ca),
             st AS (SELECT c, CAST(sum(w) AS BIGINT) AS d_c
                    FROM (SELECT ca AS c, w FROM eb
                          UNION ALL SELECT cb AS c, w FROM eb)
                    GROUP BY c),
             rows_ AS (SELECT j.c, j.e_c, j.d_c,
                         CAST(j.e_c AS DOUBLE) / CAST(m.m AS DOUBLE)
                           - (CAST(j.d_c AS DOUBLE)
                              / (2.0 * CAST(m.m AS DOUBLE)))
                           * (CAST(j.d_c AS DOUBLE)
                              / (2.0 * CAST(m.m AS DOUBLE))) AS contrib
                       FROM (SELECT st.c, COALESCE(ec.e_c, 0) AS e_c,
                               st.d_c
                             FROM st LEFT JOIN ec ON st.c = ec.c) j, m),
             q AS (SELECT CAST(sum(CAST(contrib AS DECIMAL(38,12)))
                     AS DOUBLE) AS q_mod FROM rows_)
            SELECT c AS community, e_c, d_c, contrib, q_mod
            FROM rows_, q ORDER BY community"""))

  /** Delta-method ratio metric with confidence interval — revenue per
    * unit (Σprice/Σqty) per returnflag with the asymptotic SE every
    * A/B readout needs for a RATIO (naive per-row averaging of x/y is
    * a different, wrong estimand): the numerator carries CENTERED sums
    * of squares/cross-products S_xx + R²S_yy − 2R·S_xy (each S is
    * n·σ̂²-scaled), so the sample-form denominator is n·(n−1)·ȳ² —
    * Var(x̄/ȳ) ≈ (s²_x + R²s²_y − 2R·s_xy)/(n·ȳ²) with s² = S/(n−1).
    * (The r14 text divided by n·ȳ² only, inflating the SE by √n;
    * R15Spec pins the fixed SE against the algebraically-independent
    * residual spelling Σ(x−Ry)²/((n−1)·n·ȳ²), exact because
    * Σx − R·Σy ≡ 0 at R = Σx/Σy.) All moments from ONE map-combining
    * aggregate of exact integers (Σx² AND Σxy ride DECIMAL(38,0) — at
    * ~6e11 rows Σ(price_cents·qty) ≈ 3e20 overflows 2⁶³, so the mixed
    * moment needs the wide carrier as much as the squared one),
    * R/SE/CI as shared-text finals with degenerate guards. The ±1.96
    * normal quantile is a shared literal. Scale: one scan, one 3-row
    * output — the sufficient-statistics pattern, no resampling
    * (q_agg_bootstrap is the small-n alternative).
    */
  val qAggDeltaMethod = Q(
    "q_agg_delta_method",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
          Det.roundCents("l_extendedprice").as("x"),
          col("l_quantity").cast("long").as("y"))
        .groupBy("flag")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))"))
            .as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))"))
            .as("sxy"))
        .select(col("flag"), col("n"),
          expr("CASE WHEN sy = 0 THEN NULL" +
            " ELSE CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) END")
            .as("ratio"),
          expr("""CASE WHEN sy = 0 OR n <= 1 THEN NULL ELSE
                   sqrt(greatest(CAST(0 AS DOUBLE),
                     ((CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                          / CAST(n AS DOUBLE))
                      + (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                        * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                        * (CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                             / CAST(n AS DOUBLE))
                      - 2.0 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                        * (CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                             / CAST(n AS DOUBLE)))
                     / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)
                        * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))))
                  END""").as("se"))
        .select(col("flag"), col("n"), col("ratio"), col("se"),
          expr("ratio - 1.96 * se").as("ci_lo"),
          expr("ratio + 1.96 * se").as("ci_hi"))
        .orderBy("flag")
    },
    Some(s"""WITH m AS (SELECT l_returnflag AS flag,
                    CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(${Det.sqlRoundCents("l_extendedprice")})
                      AS BIGINT) AS sx,
                    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sy,
                    sum(CAST(${Det.sqlRoundCents("l_extendedprice")}
                             AS DECIMAL(38,0))
                        * CAST(${Det.sqlRoundCents("l_extendedprice")}
                               AS DECIMAL(38,0))) AS sxx,
                    CAST(sum(CAST(l_quantity AS BIGINT)
                             * CAST(l_quantity AS BIGINT)) AS BIGINT)
                      AS syy,
                    sum(CAST(${Det.sqlRoundCents("l_extendedprice")}
                             AS DECIMAL(38,0))
                        * CAST(CAST(l_quantity AS BIGINT)
                               AS DECIMAL(38,0))) AS sxy
                  FROM lineitem GROUP BY 1),
             d AS (SELECT flag, n,
                     CASE WHEN sy = 0 THEN NULL
                       ELSE CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) END
                       AS ratio,
                     CASE WHEN sy = 0 OR n <= 1 THEN NULL ELSE
                       sqrt(greatest(CAST(0 AS DOUBLE),
                         ((CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                              / CAST(n AS DOUBLE))
                          + (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                            * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                            * (CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                                 / CAST(n AS DOUBLE))
                          - 2.0 * (CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE))
                            * (CAST(sxy AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                                 / CAST(n AS DOUBLE)))
                         / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)
                            * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                            * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))))
                       END AS se
                   FROM m)
            SELECT flag, n, ratio, se,
                   ratio - 1.96 * se AS ci_lo,
                   ratio + 1.96 * se AS ci_hi
            FROM d ORDER BY flag"""))

  /** Levene's test in the Brown–Forsythe form — equal-VARIANCE check
    * across part brands (the assumption q_agg_anova quietly makes;
    * run this first, trust F after): W = the one-way ANOVA F computed
    * on absolute deviations from the GROUP MEDIAN (median, not mean —
    * the robust variant that survives heavy tails). Never touches a
    * row twice: ONE fact aggregate to the bounded (brand × quantity)
    * value grid; group medians come from the grid's cumulative
    * self-join (lower median min{v : cum ≥ ⌈n/2⌉}, deterministic
    * integer, same spelling both engines); deviations z = c·|v−med|
    * stay ALL-INTEGER (z ≤ 49, Σz² ≪ 2⁵³ at the quantity carrier);
    * then the exact q_agg_anova assembly (Dec12 per-group terms, one
    * shared F). Scale: the fact table contributes one map-combining
    * aggregate — medians and moments live on ≤50·|brands| cells.
    */
  val qAggLevene = Q(
    "q_agg_levene",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity").cast("int").as("v"))
      val pt = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
      val cells = li.join(pt, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand").as("g"), col("v"))
        .agg(count(lit(1)).as("c"))
      val b = cells.select(col("g").as("bg"), col("v").as("bv"),
        col("c").as("bc"))
      val cum = cells.join(b, col("g") === col("bg") && col("bv") <= col("v"))
        .groupBy(col("g"), col("v"))
        .agg(sum(col("bc")).as("cum"))
      val ng = cells.groupBy("g").agg(sum(col("c")).as("ng"))
      val med = cum.join(ng, "g")
        .where(expr("cum >= (ng + 1) DIV 2"))
        .groupBy("g").agg(min(col("v")).as("med"))
      val zstats = cells.join(broadcast(med), "g")
        .groupBy("g")
        .agg(sum(col("c")).as("ngr"),
          sum(col("c") * abs(col("v") - col("med"))).as("sz"),
          sum(col("c") * (col("v") - col("med"))
            * (col("v") - col("med"))).as("szz"))
      zstats.agg(
        count(lit(1)).as("k"),
        sum(col("ngr")).as("n"),
        sum(col("sz")).as("s"),
        sum(col("szz")).as("ss"),
        sum(expr("CAST(CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)" +
          " / CAST(ngr AS DOUBLE) AS DECIMAL(38,12))")).as("tbq"))
        .select(col("k"), col("n"),
          expr("CAST(tbq AS DOUBLE)" +
            " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)")
            .as("ssb"),
          expr("CAST(ss AS DOUBLE) - CAST(tbq AS DOUBLE)").as("ssw"))
        .select(col("k"), col("n"), col("ssb"), col("ssw"),
          expr("CASE WHEN ssw <= 0 OR n <= k OR k <= 1 THEN NULL" +
            " ELSE (ssb / CAST(k - 1 AS DOUBLE))" +
            " / (ssw / CAST(n - k AS DOUBLE)) END").as("w_stat"))
    },
    Some("""WITH cells AS (SELECT p_brand AS g,
                    CAST(l_quantity AS INTEGER) AS v,
                    CAST(count(*) AS BIGINT) AS c
                  FROM lineitem JOIN part ON l_partkey = p_partkey
                  GROUP BY 1, 2),
             cum AS (SELECT a.g, a.v, CAST(sum(b.c) AS BIGINT) AS cum
                     FROM cells a JOIN cells b
                       ON a.g = b.g AND b.v <= a.v
                     GROUP BY a.g, a.v),
             ng AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng
                    FROM cells GROUP BY g),
             med AS (SELECT cum.g, min(cum.v) AS med
                     FROM cum JOIN ng ON cum.g = ng.g
                     WHERE cum >= (ng + 1) // 2
                     GROUP BY cum.g),
             z AS (SELECT cells.g, CAST(sum(c) AS BIGINT) AS ngr,
                     CAST(sum(c * abs(v - med)) AS BIGINT) AS sz,
                     CAST(sum(c * (v - med) * (v - med)) AS BIGINT) AS szz
                   FROM cells JOIN med ON cells.g = med.g
                   GROUP BY cells.g),
             t AS (SELECT count(*) AS k, CAST(sum(ngr) AS BIGINT) AS n,
                     CAST(sum(sz) AS BIGINT) AS s,
                     CAST(sum(szz) AS BIGINT) AS ss,
                     sum(CAST(CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)
                         / CAST(ngr AS DOUBLE) AS DECIMAL(38,12))) AS tbq
                   FROM z),
             d AS (SELECT k, n,
                     CAST(tbq AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                         / CAST(n AS DOUBLE) AS ssb,
                     CAST(ss AS DOUBLE) - CAST(tbq AS DOUBLE) AS ssw
                   FROM t)
            SELECT k, n, ssb, ssw,
                   CASE WHEN ssw <= 0 OR n <= k OR k <= 1 THEN NULL
                     ELSE (ssb / CAST(k - 1 AS DOUBLE))
                       / (ssw / CAST(n - k AS DOUBLE)) END AS w_stat
            FROM d"""))

  /** Hodges–Lehmann pseudo-median of line-item quantity per returnflag
    * — the rank-based location estimator (median of all pairwise Walsh
    * averages, the robust point estimate tied to the Wilcoxon test).
    * The naive form is O(n²) pairs; on a bounded value domain it
    * collapses to WEIGHTED cells: Walsh sum w = vᵢ+vⱼ with weight
    * cᵢ·cⱼ (i<j) or cᵢ·(cᵢ+1)/2 (i=j) — ≤99 distinct sums per flag —
    * and HL = (lower weighted median of w)/2, the one shared division.
    * Everything else is exact integers: pair weights ≤ n², total
    * T = n(n+1)/2, median position (T+1) DIV 2, cumulative weights via
    * the bounded w≤w' self-join. Scale: ONE map-combining fact
    * aggregate; the quadratic lives on the 50-value grid, never the
    * corpus — the q_agg_kendall posture applied to location
    * estimation.
    */
  val qAggHodgesLehmann = Q(
    "q_agg_hodges_lehmann",
    (s, dir) => {
      val vals = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
          col("l_quantity").cast("long").as("v"))
        .groupBy("flag", "v").agg(count(lit(1)).as("c"))
      val b = vals.select(col("flag").as("bf"), col("v").as("bv"),
        col("c").as("bc"))
      val walsh = vals.join(b, col("flag") === col("bf") &&
          col("bv") >= col("v"))
        .select(col("flag"), (col("v") + col("bv")).as("w"),
          expr("CASE WHEN bv = v THEN c * (c + 1) DIV 2" +
            " ELSE c * bc END").as("wt"))
        .groupBy("flag", "w").agg(sum(col("wt")).as("wt"))
      val wb = walsh.select(col("flag").as("wf"), col("w").as("ww"),
        col("wt").as("wwt"))
      val cum = walsh.join(wb, col("flag") === col("wf") &&
          col("ww") <= col("w"))
        .groupBy(col("flag"), col("w"))
        .agg(sum(col("wwt")).as("cum"))
      val tot = walsh.groupBy("flag").agg(sum(col("wt")).as("t"))
      val nn = vals.groupBy("flag").agg(sum(col("c")).as("n"))
      cum.join(tot, "flag")
        .where(expr("cum >= (t + 1) DIV 2"))
        .groupBy("flag")
        .agg(min(col("w")).as("w_med"))
        .join(nn, "flag").join(tot, "flag")
        .select(col("flag"), col("n"), col("t").as("t_pairs"),
          col("w_med"),
          expr("CAST(w_med AS DOUBLE) / 2.0").as("hl"))
        .orderBy("flag")
    },
    Some("""WITH vals AS (SELECT l_returnflag AS flag,
                    CAST(l_quantity AS BIGINT) AS v,
                    CAST(count(*) AS BIGINT) AS c
                  FROM lineitem GROUP BY 1, 2),
             walsh AS (SELECT a.flag, a.v + b.v AS w,
                         CAST(sum(CASE WHEN a.v = b.v
                              THEN a.c * (a.c + 1) // 2
                              ELSE a.c * b.c END) AS BIGINT) AS wt
                       FROM vals a JOIN vals b
                         ON a.flag = b.flag AND b.v >= a.v
                       GROUP BY a.flag, a.v + b.v),
             cum AS (SELECT x.flag, x.w, CAST(sum(y.wt) AS BIGINT) AS cum
                     FROM walsh x JOIN walsh y
                       ON x.flag = y.flag AND y.w <= x.w
                     GROUP BY x.flag, x.w),
             tot AS (SELECT flag, CAST(sum(wt) AS BIGINT) AS t
                     FROM walsh GROUP BY flag),
             nn AS (SELECT flag, CAST(sum(c) AS BIGINT) AS n
                    FROM vals GROUP BY flag),
             med AS (SELECT cum.flag, min(cum.w) AS w_med
                     FROM cum JOIN tot ON cum.flag = tot.flag
                     WHERE cum >= (t + 1) // 2
                     GROUP BY cum.flag)
            SELECT med.flag, n, t AS t_pairs, w_med,
                   CAST(w_med AS DOUBLE) / 2.0 AS hl
            FROM med JOIN nn ON med.flag = nn.flag
                     JOIN tot ON med.flag = tot.flag
            ORDER BY med.flag"""))

  /** Precision–recall curve + average precision — the imbalanced-class
    * companion to q_eval_auc (ROC flatters a 1%-positive problem; PR
    * does not): same ONE-aggregate ≤11-level cell machinery,
    * cumulative TP/FP via the bounded b≥a self-join, and AP by the
    * step identity AP = Σ_v (pos_v/P)·precision(v) — the recall
    * increment at threshold v IS pos_v/P, so no lag/window is needed
    * on the bounded table. Per-level AP terms are shared IEEE products
    * of two exact-int divisions, Dec12-quantized before the bounded
    * sum (§7.2); precision/recall NULL-guarded. Scale: fact scan +
    * O(levels²) bounded arithmetic, the q_eval_auc posture.
    */
  val qEvalPrCurve = Q(
    "q_eval_pr_curve",
    (s, dir) => {
      val cells = Tables.lineitem(s, dir)
        .select(round(col("l_discount") * 100).cast("int").as("v"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
        .groupBy("v")
        .agg(sum(col("y")).as("pos"),
          (count(lit(1)) - sum(col("y"))).as("neg"))
      val bb = cells.select(col("v").as("bv"), col("pos").as("bpos"),
        col("neg").as("bneg"))
      val cum = cells.join(bb, col("bv") >= col("v"))
        .groupBy(col("v"), col("pos"), col("neg"))
        .agg(sum(col("bpos")).as("tp"), sum(col("bneg")).as("fp"))
      val tot = cells.agg(sum(col("pos")).as("p"), sum(col("neg")).as("n"))
      val terms = cum.crossJoin(broadcast(tot))
        .withColumn("prec", expr("CASE WHEN tp + fp = 0 THEN NULL" +
          " ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END"))
        .withColumn("rec", expr("CASE WHEN p = 0 THEN NULL" +
          " ELSE CAST(tp AS DOUBLE) / CAST(p AS DOUBLE) END"))
      val ap = terms
        .agg(sum(expr("CASE WHEN prec IS NULL OR p = 0" +
          " THEN CAST(0 AS DECIMAL(38,12))" +
          " ELSE CAST((CAST(pos AS DOUBLE) / CAST(p AS DOUBLE)) * prec" +
          " AS DECIMAL(38,12)) END")).as("apq"))
        .select(expr("CAST(apq AS DOUBLE)").as("ap"))
      terms.crossJoin(broadcast(ap))
        .select(col("v").as("thr"), col("tp"), col("fp"), col("prec"),
          col("rec"), col("ap"))
        .orderBy("thr")
    },
    Some("""WITH cells AS (SELECT CAST(round(l_discount * 100) AS INTEGER)
                      AS v,
                    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1
                             ELSE 0 END) AS BIGINT) AS pos,
                    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 0
                             ELSE 1 END) AS BIGINT) AS neg
                  FROM lineitem GROUP BY 1),
             cum AS (SELECT a.v, a.pos, a.neg,
                       CAST(sum(b.pos) AS BIGINT) AS tp,
                       CAST(sum(b.neg) AS BIGINT) AS fp
                     FROM cells a JOIN cells b ON b.v >= a.v
                     GROUP BY a.v, a.pos, a.neg),
             tot AS (SELECT CAST(sum(pos) AS BIGINT) AS p,
                       CAST(sum(neg) AS BIGINT) AS n FROM cells),
             terms AS (SELECT v, pos, tp, fp, p,
                         CASE WHEN tp + fp = 0 THEN NULL
                           ELSE CAST(tp AS DOUBLE)
                             / CAST(tp + fp AS DOUBLE) END AS prec,
                         CASE WHEN p = 0 THEN NULL
                           ELSE CAST(tp AS DOUBLE) / CAST(p AS DOUBLE) END
                           AS rec
                       FROM cum, tot),
             ap AS (SELECT CAST(sum(CASE WHEN prec IS NULL OR p = 0
                       THEN CAST(0 AS DECIMAL(38,12))
                       ELSE CAST((CAST(pos AS DOUBLE) / CAST(p AS DOUBLE))
                            * prec AS DECIMAL(38,12)) END) AS DOUBLE) AS ap
                    FROM terms)
            SELECT v AS thr, tp, fp, prec, rec, ap
            FROM terms, ap ORDER BY thr"""))

  /** Mutual-information FEATURE RANKING against the returned-flag label
    * — the filter-method feature selector (the step before any model
    * training at 100 TB: rank cheap, train on the survivors): five
    * categorical featurizations of the fact row (discount level,
    * quantity decile, linestatus, tax level, ship month) are unpivoted
    * by stack() so ONE scan feeds one map-combining aggregate to the
    * bounded (feature × value × label) cell table; per-feature
    * MI/H(X)/H(Y)/NMI follow q_agg_mutual_info's exact doctrine
    * (integer counts, Dec12-quantized ln terms, shared finals).
    * Output ordered by MI descending (identical doubles both engines,
    * feature-name tiebreak) — the selection order IS the result.
    * Scale: the 5× stack fan-out is the honest cost of scoring 5
    * features in one pass; everything after lives on ≤100 cells.
    */
  val qFeatureSelectMi = Q(
    "q_feature_select_mi",
    (s, dir) => {
      val base = Tables.lineitem(s, dir)
        .select(expr("stack(5," +
          " 'discount', CAST(CAST(round(l_discount * 100) AS INT)" +
          "   AS STRING)," +
          " 'quantity_decile', CAST(CAST(l_quantity AS INT) DIV 10" +
          "   AS STRING)," +
          " 'linestatus', l_linestatus," +
          " 'tax', CAST(CAST(round(l_tax * 100) AS INT) AS STRING)," +
          " 'ship_month', CAST(month(l_shipdate) AS STRING))" +
          " AS (feature, xv)"),
          when(col("l_returnflag") === "R", 1).otherwise(0).as("y"))
      val cells = base.groupBy("feature", "xv", "y")
        .agg(count(lit(1)).as("o"))
        // r21: pin the contingency cells — grid-bounded (|features| ×
        // |levels| × 2 rows) but its lineage is the 5-way stacked
        // corpus scan, which the four consumers below (rt/ct/nt/mi)
        // re-executed (per-job bytes: two full stack-scan jobs per run).
        .localCheckpoint(true)
      val rt = cells.groupBy("feature", "xv").agg(sum(col("o")).as("r"))
      val ct = cells.groupBy("feature", "y").agg(sum(col("o")).as("c"))
      val nt = cells.groupBy("feature").agg(sum(col("o")).as("n"))
      val miTerm =
        "(CAST(o AS DOUBLE) / CAST(n AS DOUBLE)) * " +
          "ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE) / " +
          "(CAST(r AS DOUBLE) * CAST(c AS DOUBLE)))"
      def entTerm(tot: String) =
        s"-(CAST($tot AS DOUBLE) / CAST(n AS DOUBLE)) * " +
          s"ln(CAST($tot AS DOUBLE) / CAST(n AS DOUBLE))"
      val mi = cells
        .join(broadcast(rt), Seq("feature", "xv"))
        .join(broadcast(ct), Seq("feature", "y"))
        .join(broadcast(nt), Seq("feature"))
        .groupBy("feature")
        .agg(sum(expr(miTerm).cast(Dec12)).cast("double").as("mi"))
      val hx = rt.join(broadcast(nt), Seq("feature")).groupBy("feature")
        .agg(sum(expr(entTerm("r")).cast(Dec12)).cast("double").as("h_x"))
      val hy = ct.join(broadcast(nt), Seq("feature")).groupBy("feature")
        .agg(sum(expr(entTerm("c")).cast(Dec12)).cast("double").as("h_y"))
      nt.join(broadcast(mi), "feature").join(broadcast(hx), "feature")
        .join(broadcast(hy), "feature")
        .select(col("feature"), col("n"), col("mi"), col("h_x"),
          col("h_y"),
          expr("CASE WHEN h_x * h_y > CAST(0 AS DOUBLE) " +
            "THEN mi / sqrt(h_x * h_y) ELSE NULL END").as("nmi"))
        .orderBy(col("mi").desc, col("feature"))
    },
    Some("""WITH base AS (
              SELECT feature, xv,
                     CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
              FROM lineitem, LATERAL (VALUES
                ('discount',
                 CAST(CAST(round(l_discount * 100) AS INTEGER) AS VARCHAR)),
                ('quantity_decile',
                 CAST(CAST(l_quantity AS INTEGER) // 10 AS VARCHAR)),
                ('linestatus', l_linestatus),
                ('tax',
                 CAST(CAST(round(l_tax * 100) AS INTEGER) AS VARCHAR)),
                ('ship_month',
                 CAST(month(CAST(l_shipdate AS DATE)) AS VARCHAR)))
                AS t(feature, xv)),
             cells AS (SELECT feature, xv, y, count(*) AS o
                       FROM base GROUP BY 1, 2, 3),
             rt AS (SELECT feature, xv, sum(o) AS r
                    FROM cells GROUP BY 1, 2),
             ct AS (SELECT feature, y, sum(o) AS c
                    FROM cells GROUP BY 1, 2),
             nt AS (SELECT feature, sum(o) AS n FROM cells GROUP BY 1),
             mi AS (SELECT cells.feature, CAST(sum(CAST(
                      (CAST(o AS DOUBLE) / CAST(n AS DOUBLE)) *
                      ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE) /
                         (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)))
                      AS DECIMAL(38,12))) AS DOUBLE) AS mi
                    FROM cells
                    JOIN rt ON cells.feature = rt.feature
                           AND cells.xv = rt.xv
                    JOIN ct ON cells.feature = ct.feature
                           AND cells.y = ct.y
                    JOIN nt ON cells.feature = nt.feature
                    GROUP BY cells.feature),
             hx AS (SELECT rt.feature, CAST(sum(CAST(
                      -(CAST(r AS DOUBLE) / CAST(n AS DOUBLE)) *
                      ln(CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
                      AS DECIMAL(38,12))) AS DOUBLE) AS h_x
                    FROM rt JOIN nt ON rt.feature = nt.feature
                    GROUP BY rt.feature),
             hy AS (SELECT ct.feature, CAST(sum(CAST(
                      -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
                      ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                      AS DECIMAL(38,12))) AS DOUBLE) AS h_y
                    FROM ct JOIN nt ON ct.feature = nt.feature
                    GROUP BY ct.feature)
            SELECT nt.feature, CAST(n AS BIGINT) AS n, mi, h_x, h_y,
                   CASE WHEN h_x * h_y > CAST(0 AS DOUBLE)
                        THEN mi / sqrt(h_x * h_y) ELSE NULL END AS nmi
            FROM nt JOIN mi ON nt.feature = mi.feature
                    JOIN hx ON nt.feature = hx.feature
                    JOIN hy ON nt.feature = hy.feature
            ORDER BY mi DESC, nt.feature"""))

  /** Calibration curve + expected calibration error (ECE) — the
    * "are the probabilities HONEST" evaluation next to q_eval_auc's
    * "is the ranking right": train/test split by the portable 80/20
    * row hash (leakage-safe by construction — the predicted rate per
    * score level comes from TRAIN rows only), per-level p̂ =
    * pos_tr/n_tr vs the TEST empirical rate, ECE = Σ (n_te/N)·|p̂ −
    * rate| over the ≤11 bounded levels with Dec12-quantized terms
    * (§7.2: a bare double sum over the level table would be
    * order-dependent). Levels empty on either side report NULL and are
    * excluded from ECE — the honest readout, not a 0-imputation.
    * Scale: two map-combining aggregates over one scan (the split is a
    * per-row hash predicate, not a shuffle), bounded arithmetic after.
    */
  val qEvalCalibration = Q(
    "q_eval_calibration",
    (s, dir) => {
      val base = Tables.lineitem(s, dir)
        .select(round(col("l_discount") * 100).cast("int").as("v"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"),
          (pmod(graft.Det.pHash60(concat(col("l_orderkey"), lit(":"),
            col("l_linenumber"))), lit(5)) === 0).as("is_test"))
      val tr = base.where(!col("is_test")).groupBy("v")
        .agg(count(lit(1)).as("n_tr"), sum(col("y")).as("pos_tr"))
      val te = base.where(col("is_test")).groupBy("v")
        .agg(count(lit(1)).as("n_te"), sum(col("y")).as("pos_te"))
      val bins = tr.join(te, Seq("v"), "full")
        .select(col("v"),
          coalesce(col("n_tr"), lit(0L)).as("n_tr"),
          coalesce(col("pos_tr"), lit(0L)).as("pos_tr"),
          coalesce(col("n_te"), lit(0L)).as("n_te"),
          coalesce(col("pos_te"), lit(0L)).as("pos_te"))
        .withColumn("p_hat", expr("CASE WHEN n_tr = 0 THEN NULL" +
          " ELSE CAST(pos_tr AS DOUBLE) / CAST(n_tr AS DOUBLE) END"))
        .withColumn("rate_te", expr("CASE WHEN n_te = 0 THEN NULL" +
          " ELSE CAST(pos_te AS DOUBLE) / CAST(n_te AS DOUBLE) END"))
        .withColumn("abs_gap", expr("abs(p_hat - rate_te)"))
      val ece = bins
        .agg(sum(expr("CASE WHEN abs_gap IS NULL THEN CAST(0 AS BIGINT)" +
          " ELSE n_te END")).as("n_used"),
          sum(expr("CAST(CAST(n_te AS DOUBLE) * abs_gap" +
            " AS DECIMAL(38,12))")).as("wsum"))
        .select(expr("CASE WHEN n_used = 0 THEN NULL" +
          " ELSE CAST(wsum AS DOUBLE) / CAST(n_used AS DOUBLE) END")
          .as("ece"))
      bins.crossJoin(broadcast(ece))
        .select(col("v"), col("n_tr"), col("p_hat"), col("n_te"),
          col("rate_te"), col("abs_gap"), col("ece"))
        .orderBy("v")
    },
    Some(s"""WITH base AS (SELECT
                    CAST(round(l_discount * 100) AS INTEGER) AS v,
                    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
                    ((${graft.Det.sqlPHash60(
                      "CAST(l_orderkey AS VARCHAR) || ':' " +
                        "|| CAST(l_linenumber AS VARCHAR)")}) % 5 + 5) % 5
                      = 0 AS is_test
                  FROM lineitem),
             tr AS (SELECT v, CAST(count(*) AS BIGINT) AS n_tr,
                      CAST(sum(y) AS BIGINT) AS pos_tr
                    FROM base WHERE NOT is_test GROUP BY v),
             te AS (SELECT v, CAST(count(*) AS BIGINT) AS n_te,
                      CAST(sum(y) AS BIGINT) AS pos_te
                    FROM base WHERE is_test GROUP BY v),
             bins AS (SELECT COALESCE(tr.v, te.v) AS v,
                        COALESCE(n_tr, 0) AS n_tr,
                        COALESCE(pos_tr, 0) AS pos_tr,
                        COALESCE(n_te, 0) AS n_te,
                        COALESCE(pos_te, 0) AS pos_te
                      FROM tr FULL JOIN te ON tr.v = te.v),
             b2 AS (SELECT v, n_tr, n_te,
                      CASE WHEN n_tr = 0 THEN NULL
                        ELSE CAST(pos_tr AS DOUBLE) / CAST(n_tr AS DOUBLE)
                        END AS p_hat,
                      CASE WHEN n_te = 0 THEN NULL
                        ELSE CAST(pos_te AS DOUBLE) / CAST(n_te AS DOUBLE)
                        END AS rate_te
                    FROM bins),
             b3 AS (SELECT *, abs(p_hat - rate_te) AS abs_gap FROM b2),
             ece AS (SELECT CASE WHEN n_used = 0 THEN NULL
                       ELSE CAST(wsum AS DOUBLE) / CAST(n_used AS DOUBLE)
                       END AS ece
                     FROM (SELECT CAST(sum(CASE WHEN abs_gap IS NULL
                               THEN 0 ELSE n_te END) AS BIGINT) AS n_used,
                             sum(CAST(CAST(n_te AS DOUBLE) * abs_gap
                                 AS DECIMAL(38,12))) AS wsum
                           FROM b3))
            SELECT v, n_tr, p_hat, n_te, rate_te, abs_gap, ece
            FROM b3, ece ORDER BY v"""))

  /** Degree assortativity of the part–supplier trade graph — do
    * high-degree parts trade with high-degree suppliers? (Newman's
    * edge-degree correlation, the one-number mixing summary next to
    * the degree histogram): Pearson r between deg(part) and deg(supp)
    * across DISTINCT edges. ALL-INTEGER moments (degrees are bounded
    * by the per-key edge fanout; products ≪ 2⁶³), one shared final
    * formula. Both degree joins ride SHUFFLE_HASH — the degree tables
    * are aggregate-fed (tiny static estimate, §7.6 broadcast trap) and
    * O(parts)/O(suppliers) at 100 TB, so the honest shape is a
    * shuffled hash join on the edge keys. One row out.
    */
  val qGraphAssortativity = Q(
    "q_graph_assortativity",
    (s, dir) => {
      val edges = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("p"), col("l_suppkey").as("sk"))
        .distinct()
      val dp = edges.groupBy("p").agg(count(lit(1)).as("dx"))
      val ds = edges.groupBy("sk").agg(count(lit(1)).as("dy"))
      edges
        .join(dp.hint("shuffle_hash"), "p")
        .join(ds.hint("shuffle_hash"), "sk")
        .agg(count(lit(1)).as("n_edges"),
          sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
          sum(col("dx") * col("dy")).as("sxy"),
          sum(col("dx") * col("dx")).as("sxx"),
          sum(col("dy") * col("dy")).as("syy"))
        .select(col("n_edges"),
          expr("CAST(sx AS DOUBLE) / CAST(n_edges AS DOUBLE)")
            .as("mean_deg_part"),
          expr("CAST(sy AS DOUBLE) / CAST(n_edges AS DOUBLE)")
            .as("mean_deg_supp"),
          expr("""CASE WHEN (CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <= 0
                    OR (CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <= 0
                   THEN NULL
                   ELSE (CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (sqrt(CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END""")
            .as("assortativity"))
    },
    Some("""WITH edges AS (SELECT DISTINCT l_partkey AS p,
                    l_suppkey AS sk FROM lineitem),
             dp AS (SELECT p, CAST(count(*) AS BIGINT) AS dx
                    FROM edges GROUP BY p),
             ds AS (SELECT sk, CAST(count(*) AS BIGINT) AS dy
                    FROM edges GROUP BY sk),
             m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges,
                     CAST(sum(dx) AS BIGINT) AS sx,
                     CAST(sum(dy) AS BIGINT) AS sy,
                     CAST(sum(dx * dy) AS BIGINT) AS sxy,
                     CAST(sum(dx * dx) AS BIGINT) AS sxx,
                     CAST(sum(dy * dy) AS BIGINT) AS syy
                   FROM edges JOIN dp ON edges.p = dp.p
                     JOIN ds ON edges.sk = ds.sk)
            SELECT n_edges,
                   CAST(sx AS DOUBLE) / CAST(n_edges AS DOUBLE)
                     AS mean_deg_part,
                   CAST(sy AS DOUBLE) / CAST(n_edges AS DOUBLE)
                     AS mean_deg_supp,
                   CASE WHEN (CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <= 0
                       OR (CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <= 0
                     THEN NULL
                     ELSE (CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (sqrt(CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       * sqrt(CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END
                     AS assortativity
            FROM m"""))

  /** Forecast backtest: seasonal-naive (ŷ_t = y_{t−7}) vs naive
    * (ŷ_t = y_{t−1}) on the per-flag daily-revenue series, scored by
    * MAE and the scale-free MASE = MAE_snaive/MAE_naive (Hyndman &
    * Koehler's public measure; < 1 ⇒ weekly seasonality carries real
    * signal) — the evaluation harness every forecasting pipeline needs
    * before any model ships. Errors are exact integer cents summed
    * exactly; the two MAEs and MASE are shared-text finals over rows
    * where BOTH forecasts exist (same eval window — comparing MAEs on
    * different windows is the classic backtest bug). Row-lag frames on
    * the rollup axis (dense TPC-H calendar — the q_time_decompose
    * caveat applies and is documented). Scale: one rollup + one
    * flag-partitioned window pass, bounded output.
    */
  val qTimeForecastEval = Q(
    "q_time_forecast_eval",
    (s, dir) => {
      val wLag = Window.partitionBy("flag").orderBy("d")
      Det.dailyCents(s, dir, "v")
        .withColumn("f_naive", lag(col("v"), 1).over(wLag))
        .withColumn("f_snaive", lag(col("v"), 7).over(wLag))
        .where(col("f_naive").isNotNull && col("f_snaive").isNotNull)
        .groupBy("flag")
        .agg(count(lit(1)).as("n_eval"),
          sum(abs(col("v") - col("f_naive"))).as("ae_naive"),
          sum(abs(col("v") - col("f_snaive"))).as("ae_snaive"))
        .select(col("flag"), col("n_eval"),
          expr("CAST(ae_naive AS DOUBLE) / CAST(n_eval AS DOUBLE)")
            .as("mae_naive"),
          expr("CAST(ae_snaive AS DOUBLE) / CAST(n_eval AS DOUBLE)")
            .as("mae_snaive"),
          expr("CASE WHEN ae_naive = 0 THEN NULL" +
            " ELSE CAST(ae_snaive AS DOUBLE) / CAST(ae_naive AS DOUBLE)" +
            " END").as("mase"))
        .orderBy("flag")
    },
    Some(s"""WITH daily AS (
              ${Det.sqlDailyCents("v")}),
             lagged AS (SELECT flag, d, v,
                      lag(v, 1) OVER (PARTITION BY flag ORDER BY d)
                        AS f_naive,
                      lag(v, 7) OVER (PARTITION BY flag ORDER BY d)
                        AS f_snaive
                    FROM daily),
             agg AS (SELECT flag, CAST(count(*) AS BIGINT) AS n_eval,
                       CAST(sum(abs(v - f_naive)) AS BIGINT) AS ae_naive,
                       CAST(sum(abs(v - f_snaive)) AS BIGINT) AS ae_snaive
                     FROM lagged
                     WHERE f_naive IS NOT NULL AND f_snaive IS NOT NULL
                     GROUP BY flag)
            SELECT flag, n_eval,
                   CAST(ae_naive AS DOUBLE) / CAST(n_eval AS DOUBLE)
                     AS mae_naive,
                   CAST(ae_snaive AS DOUBLE) / CAST(n_eval AS DOUBLE)
                     AS mae_snaive,
                   CASE WHEN ae_naive = 0 THEN NULL
                     ELSE CAST(ae_snaive AS DOUBLE)
                       / CAST(ae_naive AS DOUBLE) END AS mase
            FROM agg ORDER BY flag"""))

  /** LCSS similarity (longest common subsequence with tolerance — the
    * Vlachos/Keogh elastic measure) between the per-flag daily-revenue
    * series, every flag pair — the noise-ROBUST member of the elastic
    * family next to q_time_dtw: DTW must align EVERY point so one
    * outlier day taxes the distance; LCSS simply declines to match it.
    * Same bounded shape as DTW: PAA-compress to 64 balanced integer
    * segments first, then the 64×64 DP runs IN-PLAN as a nested
    * `aggregate` fold (outer over ys carrying the DP row, inner over
    * xs; recurrence L[i][j] = max(L[i−1][j], L[i][j−1],
    * L[i−1][j−1] + m) with the ALL-INTEGER 10%-relative match predicate
    * 10·|x−y| ≤ max(|x|,|y|) — no float epsilon anywhere). The DuckDB
    * oracle replays the identical recurrence as a recursive CTE via the
    * prefix-max reformulation new[i] = max(prev[i],
    * max_{k≤i}(prev[k−1] + m_k)) — valid because LCSS rows are
    * monotone non-decreasing; different mechanics, same exact
    * integers. similarity = lcss/min(|xs|,|ys|), the one shared final.
    */
  val qTimeLcss = Q(
    "q_time_lcss",
    (s, dir) => {
      val wRk = Window.partitionBy("flag").orderBy("d")
      val daily = Det.dailyCents(s, dir, "v")
        .withColumn("rn", row_number().over(wRk))
      val n = daily.groupBy("flag").agg(count(lit(1)).as("n_days"))
      val ser = daily.join(broadcast(n), Seq("flag"))
        .withColumn("seg", expr("CAST(((rn - 1) * 64) DIV n_days AS INT)"))
        .groupBy("flag", "n_days", "seg")
        .agg(sum(col("v")).as("sv"))
        .groupBy("flag", "n_days")
        .agg(expr("transform(sort_array(collect_list(struct(seg, sv))), " +
          "x -> x.sv)").as("arr"))
      val m = "IF(10 * abs(%s - %s) <= greatest(abs(%s), abs(%s)), " +
        "CAST(1 AS BIGINT), CAST(0 AS BIGINT))"
      val mX = m.format("x", "try_element_at(ys, 1)",
        "x", "try_element_at(ys, 1)")
      val mXj = m.format("x", "yj", "x", "yj")
      val dpFml =
        s"""aggregate(
             slice(ys, 2, greatest(size(ys) - 1, 0)),
             aggregate(xs, CAST(array() AS ARRAY<BIGINT>),
               (acc, x) -> concat(acc, array(
                 greatest(coalesce(try_element_at(acc, -1),
                   CAST(0 AS BIGINT)), $mX)))),
             (old, yj) -> aggregate(xs, CAST(array() AS ARRAY<BIGINT>),
               (acc, x) -> concat(acc, array(
                 greatest(
                   try_element_at(old, size(acc) + 1),
                   coalesce(try_element_at(acc, -1), CAST(0 AS BIGINT)),
                   coalesce(if(size(acc) = 0, CAST(0 AS BIGINT),
                     try_element_at(old, size(acc))), CAST(0 AS BIGINT))
                     + $mXj)))))"""
      ser.select(col("flag").as("flag_a"), col("n_days").as("n_a"),
          col("arr").as("xs"))
        .join(broadcast(ser.select(col("flag").as("flag_b"),
          col("n_days").as("n_b"), col("arr").as("ys"))),
          col("flag_a") < col("flag_b"))
        .select(col("flag_a"), col("flag_b"), col("n_a"), col("n_b"),
          expr(s"try_element_at($dpFml, -1)").as("lcss"),
          expr(s"CAST(try_element_at($dpFml, -1) AS DOUBLE) " +
            "/ CAST(least(size(xs), size(ys)) AS DOUBLE)").as("similarity"))
        .orderBy("flag_a", "flag_b")
    },
    Some {
      val mk = "(CASE WHEN 10 * abs(xs[k] - ys[j + 1])" +
        " <= greatest(abs(xs[k]), abs(ys[j + 1])) THEN 1 ELSE 0 END)"
      val mt = "(CASE WHEN 10 * abs(xs[t] - ys[1])" +
        " <= greatest(abs(xs[t]), abs(ys[1])) THEN 1 ELSE 0 END)"
      s"""WITH RECURSIVE daily AS (
              ${Det.sqlDailyCents("v")}),
             rk AS (SELECT flag, v,
                      row_number() OVER (PARTITION BY flag ORDER BY d)
                        AS rn,
                      count(*) OVER (PARTITION BY flag) AS n_days
                    FROM daily),
             paa AS (SELECT flag, n_days,
                       ((rn - 1) * 64) // n_days AS seg,
                       CAST(sum(v) AS BIGINT) AS sv
                     FROM rk GROUP BY flag, n_days, ((rn - 1) * 64)
                       // n_days),
             ser AS (SELECT flag, n_days,
                       list(sv ORDER BY seg) AS arr
                     FROM paa GROUP BY flag, n_days),
             pairs AS (SELECT a.flag AS fa, b.flag AS fb,
                         a.n_days AS n_a, b.n_days AS n_b,
                         a.arr AS xs, b.arr AS ys
                       FROM ser a JOIN ser b ON a.flag < b.flag),
             dp AS (
               SELECT fa, fb, n_a, n_b, xs, ys, 1 AS j,
                 [CAST(list_max([$mt FOR t IN range(1, i + 1)]) AS BIGINT)
                  FOR i IN range(1, len(xs) + 1)] AS row
               FROM pairs
               UNION ALL
               SELECT fa, fb, n_a, n_b, xs, ys, j + 1,
                 [CAST(greatest(row[i], list_max([
                      (CASE WHEN k = 1 THEN 0 ELSE row[k - 1] END) + $mk
                      FOR k IN range(1, i + 1)])) AS BIGINT)
                  FOR i IN range(1, len(xs) + 1)] AS row
               FROM dp WHERE j < len(ys))
            SELECT fa AS flag_a, fb AS flag_b, n_a, n_b,
                   row[len(xs)] AS lcss,
                   CAST(row[len(xs)] AS DOUBLE)
                     / CAST(least(len(xs), len(ys)) AS DOUBLE) AS similarity
            FROM dp WHERE j = len(ys)
            ORDER BY flag_a, flag_b"""
    })

  /** One-way ANOVA F — the k-group mean-difference test completing the
    * two-sample family (t-test = its k=2 special case): does mean
    * line-item quantity differ across part brands? Decomposition
    * SST = SSB + SSW from exact-integer sufficient statistics only —
    * quantity is integer 1..50 so n, Σq, Σq² are all exact BIGINT
    * (Σq² ≤ 2500·|lineitem| ≪ 2⁵³, the carrier choice that keeps the
    * decimal→double readout representation-exact; cents² would not).
    * Per-group terms S_g²/n_g are one shared IEEE formula over exact
    * operands, Dec12-quantized before the 25-row sum (a bare double sum
    * over the bounded group table would be reduction-order-dependent —
    * §7.2 doctrine); SSB/SSW/F are shared-text finals, F NULL-guarded
    * on zero within-variance. Scale: fact⋈dim equi-join + ONE
    * map-combining aggregate to 25 rows; the F assembly is O(k) row
    * arithmetic on a bounded table — 100 TB cost is the scan.
    */
  val qAggAnova = Q(
    "q_agg_anova",
    (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_quantity").cast("int").as("q"))
      val pt = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
      val grp = li.join(pt, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("ng"), sum(col("q")).cast("long").as("sg"),
          sum(col("q") * col("q")).cast("long").as("ssg"))
      grp.agg(
        count(lit(1)).as("k"),
        sum(col("ng")).as("n"),
        sum(col("sg")).as("s"),
        sum(col("ssg")).as("ss"),
        sum(expr("CAST(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)" +
          " / CAST(ng AS DOUBLE) AS DECIMAL(38,12))")).as("tbq"))
        .select(col("k"), col("n"),
          expr("CAST(tbq AS DOUBLE)" +
            " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)")
            .as("ssb"),
          expr("CAST(ss AS DOUBLE) - CAST(tbq AS DOUBLE)").as("ssw"))
        .select(col("k"), col("n"), col("ssb"), col("ssw"),
          expr("CASE WHEN ssw <= 0 OR n <= k OR k <= 1 THEN NULL" +
            " ELSE (ssb / CAST(k - 1 AS DOUBLE))" +
            " / (ssw / CAST(n - k AS DOUBLE)) END").as("f_stat"))
    },
    Some("""WITH g AS (SELECT p_brand, count(*) AS ng,
                    CAST(sum(CAST(l_quantity AS INTEGER)) AS BIGINT) AS sg,
                    CAST(sum(CAST(l_quantity AS INTEGER)
                             * CAST(l_quantity AS INTEGER)) AS BIGINT) AS ssg
                  FROM lineitem JOIN part ON l_partkey = p_partkey
                  GROUP BY p_brand),
             t AS (SELECT count(*) AS k, CAST(sum(ng) AS BIGINT) AS n,
                     CAST(sum(sg) AS BIGINT) AS s,
                     CAST(sum(ssg) AS BIGINT) AS ss,
                     sum(CAST(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                         / CAST(ng AS DOUBLE) AS DECIMAL(38,12))) AS tbq
                   FROM g),
             d AS (SELECT k, n,
                     CAST(tbq AS DOUBLE)
                       - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                         / CAST(n AS DOUBLE) AS ssb,
                     CAST(ss AS DOUBLE) - CAST(tbq AS DOUBLE) AS ssw
                   FROM t)
            SELECT k, n, ssb, ssw,
                   CASE WHEN ssw <= 0 OR n <= k OR k <= 1 THEN NULL
                     ELSE (ssb / CAST(k - 1 AS DOUBLE))
                       / (ssw / CAST(n - k AS DOUBLE)) END AS f_stat
            FROM d"""))

  /** Spearman rank correlation quantity↔discount per returnflag — the
    * monotone-association member of the correlation family (Pearson =
    * q_agg_corr measures LINEAR association; Spearman is Pearson over
    * tie-averaged ranks, robust to any monotone transform). The naive
    * formulation sorts the fact table twice; this one never ranks a
    * row: both variables are LOW-CARDINALITY (quantity 1..50, discount
    * cents 0..10), so ranks live on the bounded value tables — cell
    * counts (flag×50×11), marginals, prefix counts via a bounded a>b
    * self-join (no partition-less window), tie-averaged rank
    * r = cum + (c+1)/2 exact in doubles (< 2⁵²). Weighted Pearson over
    * cells: per-cell moment terms are shared IEEE products over exact
    * operands, Dec12-quantized before the bounded sum (§7.2), one
    * shared final formula. Scale: ONE map-combining aggregate to ≤550
    * cells; everything after is O(1). The general-cardinality fallback
    * is the q_agg_theil_sen posture (value-rollup first, always).
    */
  val qAggSpearman = Q(
    "q_agg_spearman",
    (s, dir) => {
      val cells = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
          col("l_quantity").cast("int").as("qv"),
          round(col("l_discount") * 100).cast("int").as("dv"))
        .groupBy("flag", "qv", "dv").agg(count(lit(1)).as("c"))
      def rankTab(vcol: String, cnt: String, cum: String, rk: String) = {
        val m = cells.groupBy("flag", vcol)
          .agg(sum(col("c")).cast("long").as(cnt))
        val mb = m.select(col("flag").as("bf"), col(vcol).as("bv"),
          col(cnt).as("bc"))
        m.join(mb, col("flag") === col("bf") && col("bv") < col(vcol),
            "left")
          .groupBy(col("flag"), col(vcol), col(cnt))
          .agg(coalesce(sum(col("bc")), lit(0L)).as(cum))
          .withColumn(rk, expr(s"CAST($cum AS DOUBLE)" +
            s" + (CAST($cnt AS DOUBLE) + 1.0) / 2.0"))
      }
      val rx = rankTab("qv", "cx", "cumx", "rx")
        .select(col("flag").as("fx"), col("qv").as("jqv"), col("rx"))
      val ry = rankTab("dv", "cy", "cumy", "ry")
        .select(col("flag").as("fy"), col("dv").as("jdv"), col("ry"))
      cells
        .join(rx, col("flag") === col("fx") && col("qv") === col("jqv"))
        .join(ry, col("flag") === col("fy") && col("dv") === col("jdv"))
        .groupBy("flag")
        .agg(sum(col("c")).as("n"),
          sum(expr("CAST(CAST(c AS DOUBLE) * rx AS DECIMAL(38,12))"))
            .as("sx"),
          sum(expr("CAST(CAST(c AS DOUBLE) * ry AS DECIMAL(38,12))"))
            .as("sy"),
          sum(expr("CAST(CAST(c AS DOUBLE) * rx * ry AS DECIMAL(38,12))"))
            .as("sxy"),
          sum(expr("CAST(CAST(c AS DOUBLE) * rx * rx AS DECIMAL(38,12))"))
            .as("sxx"),
          sum(expr("CAST(CAST(c AS DOUBLE) * ry * ry AS DECIMAL(38,12))"))
            .as("syy"))
        .select(col("flag"), col("n"),
          expr("""CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <= 0
                    OR (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <= 0
                   THEN NULL
                   ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END""")
            .as("rho"))
        .orderBy("flag")
    },
    Some("""WITH cells AS (SELECT l_returnflag AS flag,
                    CAST(l_quantity AS INTEGER) AS qv,
                    CAST(round(l_discount * 100) AS INTEGER) AS dv,
                    count(*) AS c
                  FROM lineitem GROUP BY 1, 2, 3),
             mx AS (SELECT flag, qv, CAST(sum(c) AS BIGINT) AS cx
                    FROM cells GROUP BY 1, 2),
             rxt AS (SELECT a.flag, a.qv, a.cx,
                       COALESCE(CAST(sum(b.cx) AS BIGINT), 0) AS cumx
                     FROM mx a LEFT JOIN mx b
                       ON a.flag = b.flag AND b.qv < a.qv
                     GROUP BY a.flag, a.qv, a.cx),
             rx AS (SELECT flag, qv, CAST(cumx AS DOUBLE)
                      + (CAST(cx AS DOUBLE) + 1.0) / 2.0 AS rx
                    FROM rxt),
             my AS (SELECT flag, dv, CAST(sum(c) AS BIGINT) AS cy
                    FROM cells GROUP BY 1, 2),
             ryt AS (SELECT a.flag, a.dv, a.cy,
                       COALESCE(CAST(sum(b.cy) AS BIGINT), 0) AS cumy
                     FROM my a LEFT JOIN my b
                       ON a.flag = b.flag AND b.dv < a.dv
                     GROUP BY a.flag, a.dv, a.cy),
             ry AS (SELECT flag, dv, CAST(cumy AS DOUBLE)
                      + (CAST(cy AS DOUBLE) + 1.0) / 2.0 AS ry
                    FROM ryt),
             m AS (SELECT c.flag, CAST(sum(c.c) AS BIGINT) AS n,
                     sum(CAST(CAST(c.c AS DOUBLE) * rx AS DECIMAL(38,12)))
                       AS sx,
                     sum(CAST(CAST(c.c AS DOUBLE) * ry AS DECIMAL(38,12)))
                       AS sy,
                     sum(CAST(CAST(c.c AS DOUBLE) * rx * ry
                         AS DECIMAL(38,12))) AS sxy,
                     sum(CAST(CAST(c.c AS DOUBLE) * rx * rx
                         AS DECIMAL(38,12))) AS sxx,
                     sum(CAST(CAST(c.c AS DOUBLE) * ry * ry
                         AS DECIMAL(38,12))) AS syy
                   FROM cells c
                   JOIN rx ON c.flag = rx.flag AND c.qv = rx.qv
                   JOIN ry ON c.flag = ry.flag AND c.dv = ry.dv
                   GROUP BY c.flag)
            SELECT flag, n,
                   CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) <= 0
                       OR (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) <= 0
                     THEN NULL
                     ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) END
                     AS rho
            FROM m ORDER BY flag"""))

  /** Kendall tau-b quantity↔discount per returnflag — the pair-order
    * member of the rank-correlation family (Spearman weighs rank
    * DISPLACEMENT, tau counts pair INVERSIONS; tau-b is the
    * tie-corrected form). O(n²) pair enumeration is replaced by the
    * cell-grid identity: on the bounded (flag×50×11) contingency table,
    * concordant/discordant pair counts are Σ c_i·c_j over cell pairs
    * with strictly-ordered values — a ≤550×550 bounded self-join, ALL
    * INTEGER (products ≤ n², sums ≤ n²/2 ≪ 2⁶³). Tie terms n1, n2 from
    * the marginals with exact integer halving (c·(c−1) is even); tau-b
    * = one shared final over exact-int-to-double casts. Scale: the
    * fact table contributes ONE map-combining aggregate; the quadratic
    * lives on the value grid, which is cardinality-bounded by
    * construction — the only honest way to run tau at 100 TB.
    */
  val qAggKendall = Q(
    "q_agg_kendall",
    (s, dir) => {
      val cells = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
          col("l_quantity").cast("int").as("qv"),
          round(col("l_discount") * 100).cast("int").as("dv"))
        .groupBy("flag", "qv", "dv")
        .agg(count(lit(1)).cast("long").as("c"))
      val b = cells.select(col("flag").as("bf"), col("qv").as("bqv"),
        col("dv").as("bdv"), col("c").as("bc"))
      val cd = cells.join(b,
          col("flag") === col("bf") && col("qv") < col("bqv"))
        .groupBy("flag")
        .agg(sum(when(col("bdv") > col("dv"), col("c") * col("bc"))
            .otherwise(lit(0L))).as("conc"),
          sum(when(col("bdv") < col("dv"), col("c") * col("bc"))
            .otherwise(lit(0L))).as("disc"))
      val ties = cells.groupBy("flag")
        .agg(sum(col("c")).as("n"),
          expr("CAST(sum(c * c) AS BIGINT)").as("scc"))
      val tx = cells.groupBy("flag", "qv").agg(sum(col("c")).as("cx"))
        .groupBy("flag")
        .agg(expr("sum(cx * (cx - 1) DIV 2)").as("n1"))
      val ty = cells.groupBy("flag", "dv").agg(sum(col("c")).as("cy"))
        .groupBy("flag")
        .agg(expr("sum(cy * (cy - 1) DIV 2)").as("n2"))
      cd.join(ties, "flag").join(tx, "flag").join(ty, "flag")
        .select(col("flag"), col("n"), col("conc"), col("disc"),
          expr("n * (n - 1) DIV 2").as("n0"), col("n1"), col("n2"))
        .select(col("flag"), col("n"), col("conc"), col("disc"),
          expr("""CASE WHEN n0 - n1 <= 0 OR n0 - n2 <= 0 THEN NULL
                   ELSE CAST(conc - disc AS DOUBLE)
                     / sqrt(CAST(n0 - n1 AS DOUBLE)
                            * CAST(n0 - n2 AS DOUBLE)) END""").as("tau_b"))
        .orderBy("flag")
    },
    Some("""WITH cells AS (SELECT l_returnflag AS flag,
                    CAST(l_quantity AS INTEGER) AS qv,
                    CAST(round(l_discount * 100) AS INTEGER) AS dv,
                    CAST(count(*) AS BIGINT) AS c
                  FROM lineitem GROUP BY 1, 2, 3),
             cd AS (SELECT a.flag,
                      CAST(sum(CASE WHEN b.dv > a.dv
                               THEN a.c * b.c ELSE 0 END) AS BIGINT)
                        AS conc,
                      CAST(sum(CASE WHEN b.dv < a.dv
                               THEN a.c * b.c ELSE 0 END) AS BIGINT)
                        AS disc
                    FROM cells a JOIN cells b
                      ON a.flag = b.flag AND a.qv < b.qv
                    GROUP BY a.flag),
             nn AS (SELECT flag, CAST(sum(c) AS BIGINT) AS n
                    FROM cells GROUP BY flag),
             tx AS (SELECT flag, CAST(sum((cx * (cx - 1)) // 2) AS BIGINT)
                      AS n1
                    FROM (SELECT flag, qv, CAST(sum(c) AS BIGINT) AS cx
                          FROM cells GROUP BY 1, 2) GROUP BY flag),
             ty AS (SELECT flag, CAST(sum((cy * (cy - 1)) // 2) AS BIGINT)
                      AS n2
                    FROM (SELECT flag, dv, CAST(sum(c) AS BIGINT) AS cy
                          FROM cells GROUP BY 1, 2) GROUP BY flag),
             j AS (SELECT cd.flag, n, conc, disc,
                     (n * (n - 1)) // 2 AS n0, n1, n2
                   FROM cd JOIN nn ON cd.flag = nn.flag
                     JOIN tx ON cd.flag = tx.flag
                     JOIN ty ON cd.flag = ty.flag)
            SELECT flag, n, conc, disc,
                   CASE WHEN n0 - n1 <= 0 OR n0 - n2 <= 0 THEN NULL
                     ELSE CAST(conc - disc AS DOUBLE)
                       / sqrt(CAST(n0 - n1 AS DOUBLE)
                              * CAST(n0 - n2 AS DOUBLE)) END AS tau_b
            FROM j ORDER BY flag"""))

  /** ROC curve + AUC for a discrete scorer — the threshold-free
    * classifier evaluation next to q_eval_lang_confusion's
    * fixed-threshold census: label = (returnflag = 'R'), score =
    * discount cents (11 levels — every real scorecard bins to bounded
    * levels before evaluation; the continuous fallback is
    * quantile-binning first, the q_agg_percentile posture). Whole curve
    * from ONE map-combining aggregate to ≤11 (score, pos, neg) cells:
    * cumulative TP/FP per threshold via the bounded b≥a self-join (no
    * partition-less window), rates are shared IEEE divisions of exact
    * ints. AUC by the rank identity AUC = Σ_v pos(v)·(negBelow(v) +
    * neg(v)/2)/(P·N) — doubled to stay ALL-INTEGER (num2 ≤ 2·P·N ≪
    * 2⁶³) with ONE shared final division; ties handled exactly, no
    * trapezoid float accumulation. Scale: fact scan + O(levels²)
    * bounded arithmetic — the 100 TB cost is the scan.
    */
  val qEvalAuc = Q(
    "q_eval_auc",
    (s, dir) => {
      val cells = Tables.lineitem(s, dir)
        .select(round(col("l_discount") * 100).cast("int").as("v"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
        .groupBy("v")
        .agg(sum(col("y")).as("pos"),
          (count(lit(1)) - sum(col("y"))).as("neg"))
      val b = cells.select(col("v").as("bv"), col("pos").as("bpos"),
        col("neg").as("bneg"))
      val cum = cells.join(b, col("bv") >= col("v"))
        .groupBy(col("v"), col("pos"), col("neg"))
        .agg(sum(col("bpos")).as("tp"), sum(col("bneg")).as("fp"))
      val tot = cells.agg(sum(col("pos")).as("p"), sum(col("neg")).as("n"))
      val blo = cells.join(
          b.select(col("bv"), col("bneg")), col("bv") < col("v"), "left")
        .groupBy(col("v"), col("pos"), col("neg"))
        .agg(coalesce(sum(col("bneg")), lit(0L)).as("negbelow"))
      val auc = blo
        .agg(sum(expr("pos * (2 * negbelow + neg)")).as("num2"))
        .crossJoin(tot)
        .select(expr("CASE WHEN p = 0 OR n = 0 THEN NULL" +
          " ELSE CAST(num2 AS DOUBLE)" +
          " / (2.0 * CAST(p AS DOUBLE) * CAST(n AS DOUBLE)) END").as("auc"))
      cum.crossJoin(broadcast(tot)).crossJoin(broadcast(auc))
        .select(col("v").as("thr"), col("tp"), col("fp"),
          (col("p") - col("tp")).as("fn"), (col("n") - col("fp")).as("tn"),
          expr("CASE WHEN p = 0 THEN NULL" +
            " ELSE CAST(tp AS DOUBLE) / CAST(p AS DOUBLE) END").as("tpr"),
          expr("CASE WHEN n = 0 THEN NULL" +
            " ELSE CAST(fp AS DOUBLE) / CAST(n AS DOUBLE) END").as("fpr"),
          expr("CASE WHEN tp + fp = 0 THEN NULL" +
            " ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END")
            .as("precision"),
          col("auc"))
        .orderBy("thr")
    },
    Some("""WITH cells AS (SELECT CAST(round(l_discount * 100) AS INTEGER)
                      AS v,
                    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1
                             ELSE 0 END) AS BIGINT) AS pos,
                    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 0
                             ELSE 1 END) AS BIGINT) AS neg
                  FROM lineitem GROUP BY 1),
             cum AS (SELECT a.v, a.pos, a.neg,
                       CAST(sum(b.pos) AS BIGINT) AS tp,
                       CAST(sum(b.neg) AS BIGINT) AS fp
                     FROM cells a JOIN cells b ON b.v >= a.v
                     GROUP BY a.v, a.pos, a.neg),
             tot AS (SELECT CAST(sum(pos) AS BIGINT) AS p,
                       CAST(sum(neg) AS BIGINT) AS n FROM cells),
             blo AS (SELECT a.v, a.pos, a.neg,
                       COALESCE(CAST(sum(b.neg) AS BIGINT), 0) AS negbelow
                     FROM cells a LEFT JOIN cells b ON b.v < a.v
                     GROUP BY a.v, a.pos, a.neg),
             auc AS (SELECT CASE WHEN p = 0 OR n = 0 THEN NULL
                       ELSE CAST(num2 AS DOUBLE)
                         / (2.0 * CAST(p AS DOUBLE) * CAST(n AS DOUBLE)) END
                       AS auc
                     FROM (SELECT CAST(sum(pos * (2 * negbelow + neg))
                                  AS BIGINT) AS num2 FROM blo), tot)
            SELECT cum.v AS thr, tp, fp, p - tp AS fn, n - fp AS tn,
                   CASE WHEN p = 0 THEN NULL
                     ELSE CAST(tp AS DOUBLE) / CAST(p AS DOUBLE) END AS tpr,
                   CASE WHEN n = 0 THEN NULL
                     ELSE CAST(fp AS DOUBLE) / CAST(n AS DOUBLE) END AS fpr,
                   CASE WHEN tp + fp = 0 THEN NULL
                     ELSE CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE) END
                     AS precision,
                   auc
            FROM cum, tot, auc ORDER BY thr"""))

  /** Decision stump (depth-1 CART) on quantity → returned? — the
    * trainable-model family's split-search member next to the
    * perceptron (linear) and naive Bayes (probabilistic): for every
    * candidate threshold t, split the corpus into q ≤ t / q > t and
    * score the split by weighted Gini impurity; elect the minimizer.
    * The naive form sorts the fact table per threshold; this one never
    * re-scans: ONE aggregate to the 50-value table (n, pos per
    * quantity), cumulative counts via the bounded b≤a self-join,
    * impurity w(t) = (2·pos_le·neg_le/n_le + 2·pos_gt·neg_gt/n_gt)/N
    * as ONE shared IEEE formula over exact ints (products ≤ n² ≪ 2⁵³
    * at the integer-carrier bound). Election is window-free: the
    * 1-row min(w) broadcast back, best = (w = min, smallest t) — double
    * equality is sound because both sides are the identical computed
    * value. Output = the full split diagnostic, is_best marking the
    * trained stump. Scale: fact scan + O(values²) bounded arithmetic.
    */
  val qMlStump = Q(
    "q_ml_stump",
    (s, dir) => {
      val vals = Tables.lineitem(s, dir)
        .select(col("l_quantity").cast("int").as("v"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
        .groupBy("v")
        .agg(count(lit(1)).as("nv"), sum(col("y")).as("posv"))
      val b = vals.select(col("v").as("bv"), col("nv").as("bn"),
        col("posv").as("bp"))
      val cum = vals.join(b, col("bv") <= col("v"))
        .groupBy(col("v"))
        .agg(sum(col("bn")).as("n_le"), sum(col("bp")).as("pos_le"))
      val tot = vals.agg(sum(col("nv")).as("n"), sum(col("posv")).as("pos"))
      // no WHERE on the degenerate edge: ANSI Spark proved willing to
      // evaluate the projection's division for a row the filter later
      // drops (speculative eval inside the fused stage), so the guard
      // must live IN the expression — which is also the better
      // semantics: every threshold reports, the empty-side ones with
      // NULL impurity (excluded from the election by min()'s NULL skip)
      val scored = cum.crossJoin(broadcast(tot))
        .select(col("v").as("thr"), col("n_le"), col("pos_le"),
          (col("n") - col("n_le")).as("n_gt"),
          (col("pos") - col("pos_le")).as("pos_gt"), col("n"))
        .withColumn("impurity", expr(
          "CASE WHEN n_le = 0 OR n_gt = 0 THEN NULL ELSE" +
            " (2.0 * CAST(pos_le AS DOUBLE)" +
            " * CAST(n_le - pos_le AS DOUBLE) / CAST(n_le AS DOUBLE)" +
            " + 2.0 * CAST(pos_gt AS DOUBLE)" +
            " * CAST(n_gt - pos_gt AS DOUBLE) / CAST(n_gt AS DOUBLE))" +
            " / CAST(n AS DOUBLE) END"))
      val best = scored.agg(min(col("impurity")).as("w_min"))
      val bestT = scored.crossJoin(broadcast(best))
        .where(col("impurity") === col("w_min"))
        .agg(min(col("thr")).as("t_best"))
      scored.crossJoin(broadcast(bestT))
        .select(col("thr"), col("n_le"), col("pos_le"), col("n_gt"),
          col("pos_gt"), col("impurity"),
          (col("thr") === col("t_best")).as("is_best"))
        .orderBy("thr")
    },
    Some("""WITH vals AS (SELECT CAST(l_quantity AS INTEGER) AS v,
                    CAST(count(*) AS BIGINT) AS nv,
                    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1
                             ELSE 0 END) AS BIGINT) AS posv
                  FROM lineitem GROUP BY 1),
             cum AS (SELECT a.v, CAST(sum(b.nv) AS BIGINT) AS n_le,
                       CAST(sum(b.posv) AS BIGINT) AS pos_le
                     FROM vals a JOIN vals b ON b.v <= a.v GROUP BY a.v),
             tot AS (SELECT CAST(sum(nv) AS BIGINT) AS n,
                       CAST(sum(posv) AS BIGINT) AS pos FROM vals),
             scored AS (SELECT v AS thr, n_le, pos_le, n - n_le AS n_gt,
                          pos - pos_le AS pos_gt, n,
                          CASE WHEN n_le = 0 OR n - n_le = 0 THEN NULL ELSE
                          (2.0 * CAST(pos_le AS DOUBLE)
                            * CAST(n_le - pos_le AS DOUBLE)
                            / CAST(n_le AS DOUBLE)
                           + 2.0 * CAST(pos - pos_le AS DOUBLE)
                            * CAST((n - n_le) - (pos - pos_le) AS DOUBLE)
                            / CAST(n - n_le AS DOUBLE))
                          / CAST(n AS DOUBLE) END AS impurity
                        FROM cum, tot),
             best AS (SELECT min(impurity) AS w_min FROM scored),
             bt AS (SELECT min(thr) AS t_best FROM scored, best
                    WHERE impurity = w_min)
            SELECT thr, n_le, pos_le, n_gt, pos_gt, impurity,
                   thr = t_best AS is_best
            FROM scored, bt ORDER BY thr"""))

  /** Two-feature closed-form OLS (price ~ quantity + discount) via
    * Cramer's rule on the 3×3 normal equations — the multivariate
    * upgrade of q_agg_regression's simple OLS, the shape every
    * feature-attribution readout needs: all nine moment sums are exact
    * integers (y = extendedprice cents ≤ ~1.1e7, x₁ = quantity ≤ 50,
    * x₂ = discount cents ≤ 10; Σy², Σx₁y and Σx₂y ride DECIMAL(38,0) —
    * the y-weighted moments reach ~3e20 > 2⁶³ at ~6e11 rows, so the
    * wide carrier is a 100 TB requirement, not a nicety; scale-0
    * decimal→double is ONE int→double rounding in both engines, no
    * 10^s division; the pure-x moments stay < 2⁵³ outright), the six
    * 3×3 determinants and β/R² are ONE shared IEEE formula text over
    * those casts, NULL-guarded on a singular system. Scale: ONE
    * map-combining aggregate to a single moment row; the solve is O(1)
    * driver-free row arithmetic — the classic "sufficient statistics,
    * not gradient descent" pattern that makes closed-form regression
    * free at 100 TB.
    */
  val qAggOlsMulti = Q(
    "q_agg_ols_multi",
    (s, dir) => {
      val m = Tables.lineitem(s, dir)
        .select(col("l_quantity").cast("long").as("x1"),
          round(col("l_discount") * 100).cast("long").as("x2"),
          Det.roundCents("l_extendedprice").as("y"))
        .agg(count(lit(1)).as("n0"),
          sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
          sum(col("y")).as("sy"),
          sum(col("x1") * col("x1")).as("s11"),
          sum(col("x2") * col("x2")).as("s22"),
          sum(col("x1") * col("x2")).as("s12"),
          sum(expr("CAST(x1 AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))"))
            .as("s1y"),
          sum(expr("CAST(x2 AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))"))
            .as("s2y"),
          sum(expr("CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))"))
            .as("syy"))
      val d = m.select(
        col("n0"),
        expr("CAST(n0 AS DOUBLE)").as("n"),
        expr("CAST(s1 AS DOUBLE)").as("a1"),
        expr("CAST(s2 AS DOUBLE)").as("a2"),
        expr("CAST(sy AS DOUBLE)").as("ay"),
        expr("CAST(s11 AS DOUBLE)").as("a11"),
        expr("CAST(s22 AS DOUBLE)").as("a22"),
        expr("CAST(s12 AS DOUBLE)").as("a12"),
        expr("CAST(s1y AS DOUBLE)").as("a1y"),
        expr("CAST(s2y AS DOUBLE)").as("a2y"),
        expr("CAST(syy AS DOUBLE)").as("ayy"))
        .withColumn("det", expr(
          "n * (a11 * a22 - a12 * a12) - a1 * (a1 * a22 - a12 * a2)" +
            " + a2 * (a1 * a12 - a11 * a2)"))
        .withColumn("det0", expr(
          "ay * (a11 * a22 - a12 * a12) - a1 * (a1y * a22 - a12 * a2y)" +
            " + a2 * (a1y * a12 - a11 * a2y)"))
        .withColumn("det1", expr(
          "n * (a1y * a22 - a12 * a2y) - ay * (a1 * a22 - a12 * a2)" +
            " + a2 * (a1 * a2y - a1y * a2)"))
        .withColumn("det2", expr(
          "n * (a11 * a2y - a1y * a12) - a1 * (a1 * a2y - a1y * a2)" +
            " + ay * (a1 * a12 - a11 * a2)"))
      d.select(col("n0").as("n"),
        expr("CASE WHEN det = 0 THEN NULL ELSE det0 / det END").as("b0"),
        expr("CASE WHEN det = 0 THEN NULL ELSE det1 / det END").as("b1"),
        expr("CASE WHEN det = 0 THEN NULL ELSE det2 / det END").as("b2"),
        expr("""CASE WHEN det = 0 OR ayy - ay * ay / n <= 0 THEN NULL
                 ELSE 1.0 - (ayy - (det0 / det) * ay - (det1 / det) * a1y
                             - (det2 / det) * a2y)
                  / (ayy - ay * ay / n) END""").as("r2"))
    },
    Some(s"""WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n0,
                    CAST(sum(x1) AS BIGINT) AS s1,
                    CAST(sum(x2) AS BIGINT) AS s2,
                    CAST(sum(y) AS BIGINT) AS sy,
                    CAST(sum(x1 * x1) AS BIGINT) AS s11,
                    CAST(sum(x2 * x2) AS BIGINT) AS s22,
                    CAST(sum(x1 * x2) AS BIGINT) AS s12,
                    sum(CAST(x1 AS DECIMAL(38,0))
                        * CAST(y AS DECIMAL(38,0))) AS s1y,
                    sum(CAST(x2 AS DECIMAL(38,0))
                        * CAST(y AS DECIMAL(38,0))) AS s2y,
                    sum(CAST(y AS DECIMAL(38,0))
                        * CAST(y AS DECIMAL(38,0))) AS syy
                  FROM (SELECT CAST(l_quantity AS BIGINT) AS x1,
                          CAST(round(l_discount * 100) AS BIGINT) AS x2,
                          ${Det.sqlRoundCents("l_extendedprice")} AS y
                        FROM lineitem)),
             d AS (SELECT n0, CAST(n0 AS DOUBLE) AS n,
                     CAST(s1 AS DOUBLE) AS a1, CAST(s2 AS DOUBLE) AS a2,
                     CAST(sy AS DOUBLE) AS ay, CAST(s11 AS DOUBLE) AS a11,
                     CAST(s22 AS DOUBLE) AS a22, CAST(s12 AS DOUBLE) AS a12,
                     CAST(s1y AS DOUBLE) AS a1y, CAST(s2y AS DOUBLE) AS a2y,
                     CAST(syy AS DOUBLE) AS ayy
                   FROM m),
             e AS (SELECT *,
                     n * (a11 * a22 - a12 * a12)
                       - a1 * (a1 * a22 - a12 * a2)
                       + a2 * (a1 * a12 - a11 * a2) AS det,
                     ay * (a11 * a22 - a12 * a12)
                       - a1 * (a1y * a22 - a12 * a2y)
                       + a2 * (a1y * a12 - a11 * a2y) AS det0,
                     n * (a1y * a22 - a12 * a2y)
                       - ay * (a1 * a22 - a12 * a2)
                       + a2 * (a1 * a2y - a1y * a2) AS det1,
                     n * (a11 * a2y - a1y * a12)
                       - a1 * (a1 * a2y - a1y * a2)
                       + ay * (a1 * a12 - a11 * a2) AS det2
                   FROM d)
            SELECT n0 AS n,
                   CASE WHEN det = 0 THEN NULL ELSE det0 / det END AS b0,
                   CASE WHEN det = 0 THEN NULL ELSE det1 / det END AS b1,
                   CASE WHEN det = 0 THEN NULL ELSE det2 / det END AS b2,
                   CASE WHEN det = 0 OR ayy - ay * ay / n <= 0 THEN NULL
                     ELSE 1.0 - (ayy - (det0 / det) * ay
                                 - (det1 / det) * a1y
                                 - (det2 / det) * a2y)
                      / (ayy - ay * ay / n) END AS r2
            FROM e"""))

  /** Brier score with the Murphy decomposition — the probability-
    * forecast scorecard next to q_eval_calibration's ECE (ECE measures
    * honesty only; the decomposition separates it from DISCRIMINATION):
    * forecaster p = discount cents/10 (11 discrete levels), outcome
    * y = returned. Brier = Σ(c − 10y)²/(100n) rides an all-integer
    * numerator ((c−10y)² ≤ 100 — BIGINT-exact at any corpus size);
    * reliability Σ n_b(p_b−ȳ_b)²/n and resolution Σ n_b(ȳ_b−ȳ)²/n are
    * per-level exact-rational terms Dec12-summed over the ≤11 levels
    * (§7.2 — a bare double sum over the level table is
    * order-dependent); uncertainty = ȳ(1−ȳ). Murphy's identity
    * BS = REL − RES + UNC holds exactly here because forecasts are
    * constant within a level (p IS the level value) — pinned in
    * R15Spec to float tolerance. Scale: ONE map-combining census to
    * ≤11 rows, bounded arithmetic after.
    */
  val qEvalBrier = Q(
    "q_eval_brier",
    (s, dir) => {
      val bins = Tables.lineitem(s, dir)
        .select(round(col("l_discount") * 100).cast("int").as("c"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"))
        .groupBy("c")
        .agg(count(lit(1)).as("n_c"), sum(col("y")).as("pos_c"),
          sum(expr("CAST((c - 10 * y) * (c - 10 * y) AS BIGINT)"))
            .as("sq_c"))
      val tot = bins.agg(sum(col("n_c")).as("n"),
        sum(col("pos_c")).as("pos"), sum(col("sq_c")).as("sq"))
      val terms = bins.crossJoin(broadcast(tot))
        .withColumn("rel_t", expr(
          "CAST(CAST((c * n_c - 10 * pos_c) AS DOUBLE)" +
            " * CAST((c * n_c - 10 * pos_c) AS DOUBLE)" +
            " / (CAST(100 AS DOUBLE) * CAST(n_c AS DOUBLE))" +
            " AS DECIMAL(38,12))"))
        .withColumn("res_t", expr(
          "CAST(CAST(n_c AS DOUBLE)" +
            " * (CAST(pos_c AS DOUBLE) / CAST(n_c AS DOUBLE)" +
            "    - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))" +
            " * (CAST(pos_c AS DOUBLE) / CAST(n_c AS DOUBLE)" +
            "    - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))" +
            " AS DECIMAL(38,12))"))
      val summ = terms
        .groupBy("n", "pos", "sq")
        .agg(sum(col("rel_t")).as("rel_s"), sum(col("res_t")).as("res_s"))
        .select(
          expr("CAST(sq AS DOUBLE) / (CAST(100 AS DOUBLE)" +
            " * CAST(n AS DOUBLE))").as("brier"),
          expr("CAST(rel_s AS DOUBLE) / CAST(n AS DOUBLE)")
            .as("reliability"),
          expr("CAST(res_s AS DOUBLE) / CAST(n AS DOUBLE)")
            .as("resolution"),
          expr("(CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))" +
            " * (CAST(1 AS DOUBLE)" +
            " - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))")
            .as("uncertainty"))
      bins.crossJoin(broadcast(summ))
        .select(col("c"), col("n_c"), col("pos_c"),
          expr("CAST(c AS DOUBLE) / CAST(10 AS DOUBLE)").as("p"),
          expr("CAST(pos_c AS DOUBLE) / CAST(n_c AS DOUBLE)").as("ybar_c"),
          col("brier"), col("reliability"), col("resolution"),
          col("uncertainty"))
        .orderBy("c")
    },
    Some("""WITH bins AS (SELECT
                    CAST(round(l_discount * 100) AS INTEGER) AS c,
                    CAST(count(*) AS BIGINT) AS n_c,
                    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0
                             END) AS BIGINT) AS pos_c,
                    CAST(sum((CAST(round(l_discount * 100) AS INTEGER)
                       - 10 * CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0
                              END)
                      * (CAST(round(l_discount * 100) AS INTEGER)
                       - 10 * CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0
                              END)) AS BIGINT) AS sq_c
                  FROM lineitem GROUP BY 1),
             tot AS (SELECT CAST(sum(n_c) AS BIGINT) AS n,
                       CAST(sum(pos_c) AS BIGINT) AS pos,
                       CAST(sum(sq_c) AS BIGINT) AS sq FROM bins),
             terms AS (SELECT bins.*, tot.*,
                     CAST(CAST((c * n_c - 10 * pos_c) AS DOUBLE)
                       * CAST((c * n_c - 10 * pos_c) AS DOUBLE)
                       / (CAST(100 AS DOUBLE) * CAST(n_c AS DOUBLE))
                       AS DECIMAL(38,12)) AS rel_t,
                     CAST(CAST(n_c AS DOUBLE)
                       * (CAST(pos_c AS DOUBLE) / CAST(n_c AS DOUBLE)
                          - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(pos_c AS DOUBLE) / CAST(n_c AS DOUBLE)
                          - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
                       AS DECIMAL(38,12)) AS res_t
                   FROM bins, tot),
             summ AS (SELECT
                     CAST(sq AS DOUBLE) / (CAST(100 AS DOUBLE)
                       * CAST(n AS DOUBLE)) AS brier,
                     CAST(sum(rel_t) AS DOUBLE) / CAST(n AS DOUBLE)
                       AS reliability,
                     CAST(sum(res_t) AS DOUBLE) / CAST(n AS DOUBLE)
                       AS resolution,
                     (CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(1 AS DOUBLE)
                          - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
                       AS uncertainty
                   FROM terms GROUP BY n, pos, sq)
            SELECT c, n_c, pos_c,
                   CAST(c AS DOUBLE) / CAST(10 AS DOUBLE) AS p,
                   CAST(pos_c AS DOUBLE) / CAST(n_c AS DOUBLE) AS ybar_c,
                   brier, reliability, resolution, uncertainty
            FROM bins, summ ORDER BY c"""))

  /** Cohen's kappa — chance-corrected inter-RATER agreement between the
    * two q_eval_mcnemar rules as raters (mcnemar asks "is one BETTER";
    * kappa asks "do they AGREE beyond chance" — different question,
    * same census): κ = (p_o − p_e)/(1 − p_e) with p_e from the raters'
    * marginal propensities. All-integer 2×2 census, p_e's n² products
    * ride DOUBLE casts of BIGINTs (one rounding each, shared text),
    * NULL at p_e = 1 (degenerate constant raters). Scale: ONE
    * map-combining aggregate, 4 numbers.
    */
  val qEvalKappa = Q(
    "q_eval_kappa",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .select(
          (round(col("l_discount") * 100).cast("int") >= 5).as("pa"),
          (col("l_quantity").cast("int") >= 25).as("pb"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("pa") && col("pb"), 1L).otherwise(0L)).as("n11"),
          sum(when(col("pa") && !col("pb"), 1L).otherwise(0L)).as("n10"),
          sum(when(!col("pa") && col("pb"), 1L).otherwise(0L)).as("n01"),
          sum(when(!col("pa") && !col("pb"), 1L).otherwise(0L)).as("n00"))
        .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
          expr("CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)").as("po"),
          expr("(CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)" +
            " + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))" +
            " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))").as("pe"))
        .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
          col("po"), col("pe"),
          expr("CASE WHEN pe = CAST(1 AS DOUBLE) THEN NULL" +
            " ELSE (po - pe) / (CAST(1 AS DOUBLE) - pe) END").as("kappa"))
    },
    Some("""WITH c AS (SELECT
                    (CAST(round(l_discount * 100) AS INTEGER) >= 5) AS pa,
                    (CAST(l_quantity AS INTEGER) >= 25) AS pb
                  FROM lineitem),
             m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN pa AND pb THEN 1 ELSE 0 END)
                       AS BIGINT) AS n11,
                     CAST(sum(CASE WHEN pa AND NOT pb THEN 1 ELSE 0 END)
                       AS BIGINT) AS n10,
                     CAST(sum(CASE WHEN NOT pa AND pb THEN 1 ELSE 0 END)
                       AS BIGINT) AS n01,
                     CAST(sum(CASE WHEN NOT pa AND NOT pb THEN 1 ELSE 0
                              END) AS BIGINT) AS n00
                   FROM c),
             d AS (SELECT *,
                     CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po,
                     (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
                      + CAST(n01 + n00 AS DOUBLE)
                        * CAST(n10 + n00 AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
                   FROM m)
            SELECT n, n11, n10, n01, n00, po, pe,
                   CASE WHEN pe = CAST(1 AS DOUBLE) THEN NULL
                     ELSE (po - pe) / (CAST(1 AS DOUBLE) - pe) END AS kappa
            FROM d"""))

  /** Jarque–Bera normality test per returnflag — the distribution-shape
    * gate the t/ANOVA family quietly assumes (run THIS before trusting
    * their p-values): JB = n/6·(S² + K²/4) from exact integer power
    * sums of l_quantity (q ≤ 50 ⇒ Σq⁴ ≤ 6.25e6·rows < 2⁶³ even at
    * ~6e11 rows — the rare 4th-moment statistic that is BIGINT-exact
    * at full 100 TB scale with no decimal carrier), central moments,
    * skewness and excess kurtosis as shared-text finals, NULL on zero
    * variance. Scale: ONE map-combining aggregate, 3 rows.
    */
  val qAggJarqueBera = Q(
    "q_agg_jarque_bera",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
          col("l_quantity").cast("long").as("x"))
        .groupBy("flag")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
          sum(col("x") * col("x")).as("s2"),
          sum(col("x") * col("x") * col("x")).as("s3"),
          sum(col("x") * col("x") * col("x") * col("x")).as("s4"))
        .withColumn("mu", expr("CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("m2", expr(
          "CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - mu * mu"))
        .withColumn("m3", expr(
          "CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)" +
            " - CAST(3 AS DOUBLE) * mu * CAST(s2 AS DOUBLE)" +
            " / CAST(n AS DOUBLE) + CAST(2 AS DOUBLE) * mu * mu * mu"))
        .withColumn("m4", expr(
          "CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)" +
            " - CAST(4 AS DOUBLE) * mu * CAST(s3 AS DOUBLE)" +
            " / CAST(n AS DOUBLE)" +
            " + CAST(6 AS DOUBLE) * mu * mu * CAST(s2 AS DOUBLE)" +
            " / CAST(n AS DOUBLE)" +
            " - CAST(3 AS DOUBLE) * mu * mu * mu * mu"))
        .select(col("flag"), col("n"),
          expr("CASE WHEN m2 <= CAST(0 AS DOUBLE) THEN NULL" +
            " ELSE m3 / (m2 * sqrt(m2)) END").as("skewness"),
          expr("CASE WHEN m2 <= CAST(0 AS DOUBLE) THEN NULL" +
            " ELSE m4 / (m2 * m2) - CAST(3 AS DOUBLE) END")
            .as("excess_kurtosis"))
        .select(col("flag"), col("n"), col("skewness"),
          col("excess_kurtosis"),
          expr("CASE WHEN skewness IS NULL THEN NULL" +
            " ELSE CAST(n AS DOUBLE) / CAST(6 AS DOUBLE)" +
            " * (skewness * skewness" +
            "    + excess_kurtosis * excess_kurtosis" +
            "      / CAST(4 AS DOUBLE)) END").as("jb_stat"))
        .orderBy("flag")
    },
    Some("""WITH m AS (SELECT l_returnflag AS flag,
                    CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(x) AS BIGINT) AS s1,
                    CAST(sum(x * x) AS BIGINT) AS s2,
                    CAST(sum(x * x * x) AS BIGINT) AS s3,
                    CAST(sum(x * x * x * x) AS BIGINT) AS s4
                  FROM (SELECT l_returnflag,
                          CAST(l_quantity AS BIGINT) AS x FROM lineitem)
                  GROUP BY 1),
             d AS (SELECT flag, n,
                     CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
                     s2, s3, s4 FROM m),
             e AS (SELECT flag, n, mu,
                     CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) - mu * mu
                       AS m2,
                     CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)
                       - CAST(3 AS DOUBLE) * mu * CAST(s2 AS DOUBLE)
                         / CAST(n AS DOUBLE)
                       + CAST(2 AS DOUBLE) * mu * mu * mu AS m3,
                     CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)
                       - CAST(4 AS DOUBLE) * mu * CAST(s3 AS DOUBLE)
                         / CAST(n AS DOUBLE)
                       + CAST(6 AS DOUBLE) * mu * mu * CAST(s2 AS DOUBLE)
                         / CAST(n AS DOUBLE)
                       - CAST(3 AS DOUBLE) * mu * mu * mu * mu AS m4
                   FROM d),
             f AS (SELECT flag, n,
                     CASE WHEN m2 <= CAST(0 AS DOUBLE) THEN NULL
                       ELSE m3 / (m2 * sqrt(m2)) END AS skewness,
                     CASE WHEN m2 <= CAST(0 AS DOUBLE) THEN NULL
                       ELSE m4 / (m2 * m2) - CAST(3 AS DOUBLE) END
                       AS excess_kurtosis
                   FROM e)
            SELECT flag, n, skewness, excess_kurtosis,
                   CASE WHEN skewness IS NULL THEN NULL
                     ELSE CAST(n AS DOUBLE) / CAST(6 AS DOUBLE)
                       * (skewness * skewness
                          + excess_kurtosis * excess_kurtosis
                            / CAST(4 AS DOUBLE)) END AS jb_stat
            FROM f ORDER BY flag"""))

  /** Grubbs' max-outlier statistic per returnflag — "is the single most
    * extreme point too extreme" (the one-outlier question next to
    * q_anomaly_esd's iterated many-outlier sweep; ESD literally
    * iterates this statistic): G = (x_max − x̄)/s on price cents, both
    * tails reported. Moments are exact integers (Σx² on the
    * DECIMAL(38,0) carrier — the §7.2/ols doctrine), sample s, one
    * shared formula, NULL on zero variance. The 3.0 flag threshold is
    * an explicit literal (the proper critical value is a t-quantile —
    * a POLICY constant left visible, not buried). Scale: ONE
    * map-combining aggregate, 3 rows.
    */
  val qAggGrubbs = Q(
    "q_agg_grubbs",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
          Det.roundCents("l_extendedprice").as("x"))
        .groupBy("flag")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))"))
            .as("s2"),
          min(col("x")).as("x_min"), max(col("x")).as("x_max"))
        .withColumn("mu", expr("CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("sd", expr(
          "CASE WHEN n <= 1 THEN NULL ELSE sqrt(greatest(" +
            "CAST(0 AS DOUBLE), (CAST(s2 AS DOUBLE)" +
            " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)" +
            "   / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE))) END"))
        .select(col("flag"), col("n"), col("x_min"), col("x_max"),
          col("mu").as("mean"), col("sd"),
          expr("CASE WHEN sd IS NULL OR sd = CAST(0 AS DOUBLE) THEN NULL" +
            " ELSE (CAST(x_max AS DOUBLE) - mu) / sd END").as("g_max"),
          expr("CASE WHEN sd IS NULL OR sd = CAST(0 AS DOUBLE) THEN NULL" +
            " ELSE (mu - CAST(x_min AS DOUBLE)) / sd END").as("g_min"))
        .withColumn("flag_hi",
          expr("CASE WHEN g_max IS NULL THEN NULL" +
            " ELSE g_max > CAST(3.0 AS DOUBLE) END"))
        .orderBy("flag")
    },
    Some(s"""WITH m AS (SELECT l_returnflag AS flag,
                    CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(x) AS BIGINT) AS s1,
                    sum(CAST(x AS DECIMAL(38,0))
                        * CAST(x AS DECIMAL(38,0))) AS s2,
                    CAST(min(x) AS BIGINT) AS x_min,
                    CAST(max(x) AS BIGINT) AS x_max
                  FROM (SELECT l_returnflag,
                          ${Det.sqlRoundCents("l_extendedprice")}
                            AS x FROM lineitem)
                  GROUP BY 1),
             d AS (SELECT *,
                     CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
                     CASE WHEN n <= 1 THEN NULL ELSE sqrt(greatest(
                       CAST(0 AS DOUBLE), (CAST(s2 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                           / CAST(n AS DOUBLE))
                         / CAST(n - 1 AS DOUBLE))) END AS sd
                   FROM m),
             e AS (SELECT flag, n, x_min, x_max, mu AS mean, sd,
                     CASE WHEN sd IS NULL OR sd = CAST(0 AS DOUBLE)
                       THEN NULL
                       ELSE (CAST(x_max AS DOUBLE) - mu) / sd END
                       AS g_max,
                     CASE WHEN sd IS NULL OR sd = CAST(0 AS DOUBLE)
                       THEN NULL
                       ELSE (mu - CAST(x_min AS DOUBLE)) / sd END
                       AS g_min
                   FROM d)
            SELECT *, CASE WHEN g_max IS NULL THEN NULL
                      ELSE g_max > CAST(3.0 AS DOUBLE) END AS flag_hi
            FROM e ORDER BY flag"""))

  /** Poisson rate with normal-approximation CI per order priority — the
    * arrival-rate readout operational dashboards run (orders/day with
    * an uncertainty band; the count-data companion to
    * q_agg_delta_method's ratio CI): T = observed day span from the
    * data itself (max−min+1 — exact integer), rate = n/T, SE = √n/T
    * (Poisson variance = mean), ±1.96 shared literal, lower bound
    * clamped at 0 (a rate is nonnegative; the unclamped normal
    * approximation goes negative at small n — the same clamp doctrine
    * as mcnemar's correction). Scale: ONE map-combining aggregate.
    */
  val qAggRateCi = Q(
    "q_agg_rate_ci",
    (s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderpriority").as("pri"),
          to_date(col("o_orderdate")).as("d"))
        .groupBy("pri")
        .agg(count(lit(1)).as("n"),
          (datediff(max(col("d")), min(col("d"))) + 1).cast("long")
            .as("t_days"))
        .select(col("pri"), col("n"), col("t_days"),
          expr("CAST(n AS DOUBLE) / CAST(t_days AS DOUBLE)").as("rate"),
          expr("sqrt(CAST(n AS DOUBLE)) / CAST(t_days AS DOUBLE)")
            .as("se"))
        .select(col("pri"), col("n"), col("t_days"), col("rate"),
          col("se"),
          expr("greatest(CAST(0 AS DOUBLE), rate - 1.96 * se)")
            .as("ci_lo"),
          expr("rate + 1.96 * se").as("ci_hi"))
        .orderBy("pri")
    },
    Some("""WITH m AS (SELECT o_orderpriority AS pri,
                    CAST(count(*) AS BIGINT) AS n,
                    CAST(datediff('day', min(CAST(o_orderdate AS DATE)),
                      max(CAST(o_orderdate AS DATE))) + 1 AS BIGINT)
                      AS t_days
                  FROM orders GROUP BY 1),
             d AS (SELECT pri, n, t_days,
                     CAST(n AS DOUBLE) / CAST(t_days AS DOUBLE) AS rate,
                     sqrt(CAST(n AS DOUBLE)) / CAST(t_days AS DOUBLE)
                       AS se
                   FROM m)
            SELECT pri, n, t_days, rate, se,
                   greatest(CAST(0 AS DOUBLE), rate - 1.96 * se) AS ci_lo,
                   rate + 1.96 * se AS ci_hi
            FROM d ORDER BY pri"""))

  /** Grouped Q–Q comparison — the distribution-SHAPE diff the mean/
    * variance tests can't see (two groups can share both moments and
    * still differ everywhere else): deciles 0.1–0.9 of returned vs
    * non-returned prices side by side, with per-decile gap and ratio.
    * One percentile-array aggregate per group (engine-identical
    * round-6 spelling — the trimmed-mean fence doctrine), the decile
    * axis exploded from a bounded 9-row range. Scale: two scalar
    * aggregates, bounded arithmetic after.
    */
  val qAggQq = Q(
    "q_agg_qq",
    (s, dir) => {
      val pcts = "array(CAST(0.1 AS DOUBLE), CAST(0.2 AS DOUBLE)," +
        " CAST(0.3 AS DOUBLE), CAST(0.4 AS DOUBLE), CAST(0.5 AS DOUBLE)," +
        " CAST(0.6 AS DOUBLE), CAST(0.7 AS DOUBLE), CAST(0.8 AS DOUBLE)," +
        " CAST(0.9 AS DOUBLE))"
      val li = Tables.lineitem(s, dir)
      val r = li.where(col("l_returnflag") === "R")
        .agg(expr(s"percentile(l_extendedprice, $pcts)").as("pr"))
      val n = li.where(col("l_returnflag") === "N")
        .agg(expr(s"percentile(l_extendedprice, $pcts)").as("pn"))
      s.range(9).select((col("id") + 1).cast("int").as("qi"))
        .crossJoin(broadcast(r)).crossJoin(broadcast(n))
        .select(col("qi"),
          expr("CAST(qi AS DOUBLE) / CAST(10 AS DOUBLE)").as("q"),
          expr("round(element_at(pr, qi), 6)").as("q_returned"),
          expr("round(element_at(pn, qi), 6)").as("q_kept"))
        .select(col("qi"), col("q"), col("q_returned"), col("q_kept"),
          expr("q_returned - q_kept").as("gap"),
          expr("CASE WHEN q_kept = CAST(0 AS DOUBLE) THEN NULL" +
            " ELSE round(q_returned / q_kept, 6) END").as("ratio"))
        .orderBy("qi")
    },
    Some("""WITH r AS (SELECT quantile_cont(l_extendedprice,
                      [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
                      AS pr
                  FROM lineitem WHERE l_returnflag = 'R'),
             n AS (SELECT quantile_cont(l_extendedprice,
                      [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
                      AS pn
                  FROM lineitem WHERE l_returnflag = 'N'),
             ax AS (SELECT CAST(i AS INTEGER) AS qi
                    FROM range(1, 10) t(i)),
             d AS (SELECT qi,
                     CAST(qi AS DOUBLE) / CAST(10 AS DOUBLE) AS q,
                     round(pr[qi], 6) AS q_returned,
                     round(pn[qi], 6) AS q_kept
                   FROM ax, r, n)
            SELECT qi, q, q_returned, q_kept,
                   q_returned - q_kept AS gap,
                   CASE WHEN q_kept = CAST(0 AS DOUBLE) THEN NULL
                     ELSE round(q_returned / q_kept, 6) END AS ratio
            FROM d ORDER BY qi"""))

  /** Log-log price elasticity per part brand — the demand-curve slope
    * marketing/pricing teams regress (elasticity = d ln q / d ln p;
    * < −1 elastic, > −1 inelastic): OLS slope of ln(quantity) on
    * ln(price) at line granularity, per-row libm ln quantized to
    * Dec12 BEFORE the order-free moment sums (§7.2 — the entropy/
    * burstiness precedent: identical doubles through the same libm,
    * quantized, then exact decimal aggregation), slope/intercept as
    * shared-text finals round-6, NULL on a degenerate (constant-price)
    * brand. The part join rides the dim-side broadcast Catalyst picks.
    * Scale: ONE fact scan, moments map-combine per brand.
    */
  val qPriceElasticity = Q(
    "q_price_elasticity",
    (s, dir) => {
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir),
          col("l_partkey") === col("p_partkey"))
        .select(col("p_brand").as("brand"),
          expr("CAST(ln(CAST(l_quantity AS DOUBLE)) AS DECIMAL(38,12))")
            .as("y"),
          expr("CAST(ln(l_extendedprice) AS DECIMAL(38,12))").as("x"))
        .groupBy("brand")
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(expr("CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)" +
            " AS DECIMAL(38,12))")).as("sxy"),
          sum(expr("CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)" +
            " AS DECIMAL(38,12))")).as("sxx"))
        .select(col("brand"), col("n"),
          expr("""CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                   = CAST(0 AS DOUBLE) THEN NULL ELSE
                 round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                 END""").as("elasticity"))
        .select(col("brand"), col("n"), col("elasticity"))
        .orderBy("brand")
    },
    Some("""WITH b AS (SELECT p_brand AS brand,
                    CAST(ln(CAST(l_quantity AS DOUBLE))
                      AS DECIMAL(38,12)) AS y,
                    CAST(ln(l_extendedprice) AS DECIMAL(38,12)) AS x
                  FROM lineitem JOIN part ON l_partkey = p_partkey),
             m AS (SELECT brand, CAST(count(*) AS BIGINT) AS n,
                     sum(x) AS sx, sum(y) AS sy,
                     sum(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                         AS DECIMAL(38,12))) AS sxy,
                     sum(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                         AS DECIMAL(38,12))) AS sxx
                   FROM b GROUP BY brand)
            SELECT brand, n,
                   CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                     = CAST(0 AS DOUBLE) THEN NULL ELSE
                   round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                   END AS elasticity
            FROM m ORDER BY brand"""))

  /** Cohort LTV curve — cumulative revenue per customer by cohort age,
    * the retention economics readout next to q_cohort_retention's
    * headcount view (retention says WHO came back; LTV says what that
    * is WORTH): cohort = a customer's first-order month, age = months
    * since, exact cents summed per (cohort, age), cumulated over the
    * CALENDAR-BOUNDED age axis (a per-cohort window over ≤ months
    * rows — the broadcast-safe window class), divided by the cohort's
    * customer census. Scale: one custkey-keyed first-order aggregate,
    * one fact join on custkey, month-grid arithmetic after.
    */
  val qCohortLtv = Q(
    "q_cohort_ltv",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = Tables.orders(s, dir)
        .select(col("o_custkey").as("ck"),
          date_trunc("month", col("o_orderdate")).as("m"),
          Det.roundCents("o_totalprice").as("cents"))
      val firstM = o.groupBy("ck").agg(min(col("m")).as("cohort"))
      val sizes = firstM.groupBy("cohort")
        .agg(count(lit(1)).as("n_customers"))
      val aged = o.join(firstM, "ck")
        .select(col("cohort"),
          months_between(col("m"), col("cohort")).cast("int").as("age"),
          col("cents"))
        .groupBy("cohort", "age")
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("rev"))
      val w = Window.partitionBy("cohort").orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      aged
        .withColumn("cum_rev", sum(col("rev")).over(w))
        .join(sizes, "cohort")
        .select(col("cohort"), col("age"), col("n_orders"), col("rev"),
          col("cum_rev"), col("n_customers"),
          expr("CAST(cum_rev AS DOUBLE) / CAST(n_customers AS DOUBLE)")
            .as("ltv_cents"))
        .orderBy("cohort", "age")
    },
    Some(s"""WITH o AS (SELECT o_custkey AS ck,
                    date_trunc('month', o_orderdate) AS m,
                    ${Det.sqlRoundCents("o_totalprice")} AS cents
                  FROM orders),
             fm AS (SELECT ck, min(m) AS cohort FROM o GROUP BY ck),
             sz AS (SELECT cohort,
                      CAST(count(*) AS BIGINT) AS n_customers
                    FROM fm GROUP BY cohort),
             aged AS (SELECT cohort,
                     CAST(datediff('month', cohort, m) AS INTEGER)
                       AS age,
                     CAST(count(*) AS BIGINT) AS n_orders,
                     CAST(sum(cents) AS BIGINT) AS rev
                   FROM o JOIN fm USING (ck)
                   GROUP BY 1, 2),
             cum AS (SELECT *,
                     CAST(sum(rev) OVER (PARTITION BY cohort ORDER BY age
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev
                   FROM aged)
            SELECT cohort, age, n_orders, rev, cum_rev, n_customers,
                   CAST(cum_rev AS DOUBLE) / CAST(n_customers AS DOUBLE)
                     AS ltv_cents
            FROM cum JOIN sz USING (cohort)
            ORDER BY cohort, age"""))

  /** Tukey–Kramer HSD pairwise contrasts — the post-hoc step q_agg_anova
    * leaves open (a significant F says SOME group differs; HSD says
    * WHICH pairs, with the studentized-range SE that keeps the family
    * error controlled): per-pair q = (x̄_a − x̄_b)/√(MSW/2·(1/n_a+1/n_b))
    * over price cents, MSW from the same exact integer moments as the
    * ANOVA (Σx² on DECIMAL(38,0)), the 3-group pair frame is a bounded
    * self-join. The studentized-range critical value is a table lookup
    * left to the caller (POLICY, like grubbs' threshold). Scale: ONE
    * map-combining aggregate; pairs are |groups|²-bounded.
    */
  val qAggTukeyHsd = Q(
    "q_agg_tukey_hsd",
    (s, dir) => {
      val g = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
          Det.roundCents("l_extendedprice").as("x"))
        .groupBy("flag")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))"))
            .as("s2"))
      val msw = g.agg(sum(col("n")).as("nn"),
          count(lit(1)).as("k"),
          sum(expr("CAST(CAST(s2 AS DOUBLE)" +
            " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)" +
            " / CAST(n AS DOUBLE) AS DECIMAL(38,6))")).as("ssw"))
        .select(expr("CAST(ssw AS DOUBLE) / CAST(nn - k AS DOUBLE)")
          .as("msw"), expr("nn - k").as("df_w"))
      val a = g.select(col("flag").as("fa"), col("n").as("na"),
        expr("CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)").as("ma"))
      val b = g.select(col("flag").as("fb"), col("n").as("nb"),
        expr("CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)").as("mb"))
      a.join(b, col("fa") < col("fb"))
        .crossJoin(broadcast(msw))
        .select(col("fa"), col("fb"), col("na"), col("nb"),
          expr("ma - mb").as("diff_cents"),
          expr("sqrt(msw / CAST(2 AS DOUBLE)" +
            " * (CAST(1 AS DOUBLE) / CAST(na AS DOUBLE)" +
            "    + CAST(1 AS DOUBLE) / CAST(nb AS DOUBLE)))").as("se"),
          col("df_w"))
        .select(col("fa"), col("fb"), col("na"), col("nb"),
          col("diff_cents"), col("se"), col("df_w"),
          expr("abs(diff_cents) / se").as("q_stat"))
        .orderBy("fa", "fb")
    },
    Some(s"""WITH g AS (SELECT l_returnflag AS flag,
                    CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(x) AS BIGINT) AS s1,
                    sum(CAST(x AS DECIMAL(38,0))
                        * CAST(x AS DECIMAL(38,0))) AS s2
                  FROM (SELECT l_returnflag,
                          ${Det.sqlRoundCents("l_extendedprice")}
                            AS x FROM lineitem)
                  GROUP BY 1),
             w AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                     CAST(count(*) AS BIGINT) AS k,
                     sum(CAST(CAST(s2 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                         / CAST(n AS DOUBLE) AS DECIMAL(38,6))) AS ssw
                   FROM g),
             m AS (SELECT CAST(ssw AS DOUBLE)
                       / CAST(nn - k AS DOUBLE) AS msw,
                     nn - k AS df_w FROM w),
             p AS (SELECT a.flag AS fa, b.flag AS fb,
                     a.n AS na, b.n AS nb,
                     CAST(a.s1 AS DOUBLE) / CAST(a.n AS DOUBLE)
                       - CAST(b.s1 AS DOUBLE) / CAST(b.n AS DOUBLE)
                       AS diff_cents
                   FROM g a JOIN g b ON a.flag < b.flag),
             d AS (SELECT fa, fb, na, nb, diff_cents,
                     sqrt(msw / CAST(2 AS DOUBLE)
                       * (CAST(1 AS DOUBLE) / CAST(na AS DOUBLE)
                          + CAST(1 AS DOUBLE) / CAST(nb AS DOUBLE)))
                       AS se, df_w
                   FROM p, m)
            SELECT fa, fb, na, nb, diff_cents, se, df_w,
                   abs(diff_cents) / se AS q_stat
            FROM d ORDER BY fa, fb"""))

  /** Wilson score interval per order priority — the proportion CI that
    * behaves at the edges the normal approximation botches (p̂ near 0
    * or 1, small n): p̂ = weekend-order share, center
    * (p̂ + z²/2n)/(1 + z²/n), half-width z·√(p̂(1−p̂)/n + z²/4n²)/
    * (1 + z²/n) — never leaves [0,1] by construction (pinned in
    * R15Spec, unlike q_agg_rate_ci's clamped normal band). Exact
    * integer census, z = 1.96 shared literal. Scale: ONE map-combining
    * aggregate.
    */
  val qAggWilsonCi = Q(
    "q_agg_wilson_ci",
    (s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderpriority").as("pri"),
          when(dayofweek(col("o_orderdate")).isin(1, 7), 1L)
            .otherwise(0L).as("wk"))
        .groupBy("pri")
        .agg(count(lit(1)).as("n"), sum(col("wk")).as("k"))
        .withColumn("p", expr("CAST(k AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("z2n", expr(
          "CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)" +
            " / CAST(n AS DOUBLE)"))
        .select(col("pri"), col("n"), col("k"), col("p"),
          expr("(p + z2n / CAST(2 AS DOUBLE))" +
            " / (CAST(1 AS DOUBLE) + z2n)").as("center"),
          expr("CAST(1.96 AS DOUBLE) * sqrt(p * (CAST(1 AS DOUBLE) - p)" +
            " / CAST(n AS DOUBLE)" +
            " + z2n * z2n / (CAST(4 AS DOUBLE) * z2n * CAST(n AS DOUBLE)))" +
            " / (CAST(1 AS DOUBLE) + z2n)").as("half"))
        .select(col("pri"), col("n"), col("k"), col("p"),
          expr("center - half").as("ci_lo"),
          expr("center + half").as("ci_hi"))
        .orderBy("pri")
    },
    Some("""WITH m AS (SELECT o_orderpriority AS pri,
                    CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(CASE WHEN dayofweek(CAST(o_orderdate
                             AS DATE)) IN (0, 6) THEN 1 ELSE 0 END)
                      AS BIGINT) AS k
                  FROM orders GROUP BY 1),
             d AS (SELECT pri, n, k,
                     CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
                     CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE)
                       / CAST(n AS DOUBLE) AS z2n
                   FROM m),
             e AS (SELECT pri, n, k, p,
                     (p + z2n / CAST(2 AS DOUBLE))
                       / (CAST(1 AS DOUBLE) + z2n) AS center,
                     CAST(1.96 AS DOUBLE)
                       * sqrt(p * (CAST(1 AS DOUBLE) - p)
                              / CAST(n AS DOUBLE)
                              + z2n * z2n / (CAST(4 AS DOUBLE) * z2n
                                * CAST(n AS DOUBLE)))
                       / (CAST(1 AS DOUBLE) + z2n) AS half
                   FROM d)
            SELECT pri, n, k, p, center - half AS ci_lo,
                   center + half AS ci_hi
            FROM e ORDER BY pri"""))

  /** Granger-style lagged predictability test (one lag) — "does
    * yesterday's RETURNED revenue improve today's kept-revenue
    * forecast beyond its own history": restricted OLS y_t ~ y_{t−1}
    * vs unrestricted y_t ~ y_{t−1} + x_{t−1}, F = (SSR_r − SSR_u)
    * ·(T−3)/SSR_u. The daily rollup is ONE conditional-sum pass; lags
    * ride a partition-less window over the CALENDAR-BOUNDED day axis
    * (the inventory_backlog allowlist class — O(days), never O(rows));
    * every second-order moment of the cents series rides DECIMAL(38,0)
    * (daily cents ≈ 1e9 ⇒ products ≈ 1e18, BIGINT-overflow territory
    * the moment days accumulate), the centered 2×2 Cramer solve and F
    * are shared-text finals with singular/degenerate NULL guards.
    * Not full Granger (one lag, no HAC errors) — stated, not implied.
    */
  val qTimeGranger = Q(
    "q_time_granger",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.lineitem(s, dir)
        .groupBy(to_date(col("l_shipdate")).as("d"))
        .agg(
          sum(when(col("l_returnflag") === "R",
            Det.roundCents("l_extendedprice"))
            .otherwise(0L)).as("x"),
          sum(when(col("l_returnflag") === "N",
            Det.roundCents("l_extendedprice"))
            .otherwise(0L)).as("y"))
      val w = Window.orderBy("d")
      val lagged = daily
        .withColumn("yl", lag(col("y"), 1).over(w))
        .withColumn("xl", lag(col("x"), 1).over(w))
        .where(col("yl").isNotNull && col("xl").isNotNull)
      val dec = (e: String) =>
        s"CAST(CAST($e AS DECIMAL(38,0)) * CAST($e AS DECIMAL(38,0))" +
          s" AS DECIMAL(38,0))"
      val cross = (a: String, b: String) =>
        s"CAST(CAST($a AS DECIMAL(38,0)) * CAST($b AS DECIMAL(38,0))" +
          s" AS DECIMAL(38,0))"
      val m = lagged.agg(count(lit(1)).as("t"),
        sum(col("y")).as("sy"), sum(col("yl")).as("syl"),
        sum(col("xl")).as("sxl"),
        sum(expr(dec("y"))).as("syy"),
        sum(expr(dec("yl"))).as("sylyl"),
        sum(expr(dec("xl"))).as("sxlxl"),
        sum(expr(cross("y", "yl"))).as("syyl"),
        sum(expr(cross("y", "xl"))).as("syxl"),
        sum(expr(cross("yl", "xl"))).as("sylxl"))
      m.select(col("t"),
          expr("CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)" +
            " * CAST(sy AS DOUBLE) / CAST(t AS DOUBLE)").as("cyy"),
          expr("CAST(sylyl AS DOUBLE) - CAST(syl AS DOUBLE)" +
            " * CAST(syl AS DOUBLE) / CAST(t AS DOUBLE)").as("c11"),
          expr("CAST(sxlxl AS DOUBLE) - CAST(sxl AS DOUBLE)" +
            " * CAST(sxl AS DOUBLE) / CAST(t AS DOUBLE)").as("c22"),
          expr("CAST(sylxl AS DOUBLE) - CAST(syl AS DOUBLE)" +
            " * CAST(sxl AS DOUBLE) / CAST(t AS DOUBLE)").as("c12"),
          expr("CAST(syyl AS DOUBLE) - CAST(sy AS DOUBLE)" +
            " * CAST(syl AS DOUBLE) / CAST(t AS DOUBLE)").as("c1y"),
          expr("CAST(syxl AS DOUBLE) - CAST(sy AS DOUBLE)" +
            " * CAST(sxl AS DOUBLE) / CAST(t AS DOUBLE)").as("c2y"))
        .withColumn("det", expr("c11 * c22 - c12 * c12"))
        .withColumn("b1", expr("CASE WHEN det = CAST(0 AS DOUBLE)" +
          " THEN NULL ELSE (c1y * c22 - c2y * c12) / det END"))
        .withColumn("b2", expr("CASE WHEN det = CAST(0 AS DOUBLE)" +
          " THEN NULL ELSE (c11 * c2y - c12 * c1y) / det END"))
        .withColumn("ssr_r", expr("CASE WHEN c11 = CAST(0 AS DOUBLE)" +
          " THEN NULL ELSE cyy - c1y * c1y / c11 END"))
        .withColumn("ssr_u", expr("CASE WHEN b1 IS NULL THEN NULL" +
          " ELSE cyy - b1 * c1y - b2 * c2y END"))
        .select(col("t"), col("b1"), col("b2"), col("ssr_r"),
          col("ssr_u"),
          expr("CASE WHEN ssr_u IS NULL OR ssr_r IS NULL" +
            " OR ssr_u <= CAST(0 AS DOUBLE) THEN NULL" +
            " ELSE (ssr_r - ssr_u) * CAST(t - 3 AS DOUBLE) / ssr_u END")
            .as("f_stat"))
    },
    Some(s"""WITH daily AS (SELECT CAST(l_shipdate AS DATE) AS d,
                    CAST(sum(CASE WHEN l_returnflag = 'R' THEN
                      ${Det.sqlRoundCents("l_extendedprice")}
                      ELSE 0 END) AS BIGINT) AS x,
                    CAST(sum(CASE WHEN l_returnflag = 'N' THEN
                      ${Det.sqlRoundCents("l_extendedprice")}
                      ELSE 0 END) AS BIGINT) AS y
                  FROM lineitem GROUP BY 1),
             lagged AS (SELECT y,
                     lag(y, 1) OVER (ORDER BY d) AS yl,
                     lag(x, 1) OVER (ORDER BY d) AS xl
                   FROM daily),
             f AS (SELECT * FROM lagged
                   WHERE yl IS NOT NULL AND xl IS NOT NULL),
             m AS (SELECT CAST(count(*) AS BIGINT) AS t,
                     CAST(sum(y) AS BIGINT) AS sy,
                     CAST(sum(yl) AS BIGINT) AS syl,
                     CAST(sum(xl) AS BIGINT) AS sxl,
                     sum(CAST(CAST(y AS DECIMAL(38,0))
                       * CAST(y AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS syy,
                     sum(CAST(CAST(yl AS DECIMAL(38,0))
                       * CAST(yl AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS sylyl,
                     sum(CAST(CAST(xl AS DECIMAL(38,0))
                       * CAST(xl AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS sxlxl,
                     sum(CAST(CAST(y AS DECIMAL(38,0))
                       * CAST(yl AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS syyl,
                     sum(CAST(CAST(y AS DECIMAL(38,0))
                       * CAST(xl AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS syxl,
                     sum(CAST(CAST(yl AS DECIMAL(38,0))
                       * CAST(xl AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS sylxl
                   FROM f),
             c AS (SELECT t,
                     CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                       * CAST(sy AS DOUBLE) / CAST(t AS DOUBLE) AS cyy,
                     CAST(sylyl AS DOUBLE) - CAST(syl AS DOUBLE)
                       * CAST(syl AS DOUBLE) / CAST(t AS DOUBLE) AS c11,
                     CAST(sxlxl AS DOUBLE) - CAST(sxl AS DOUBLE)
                       * CAST(sxl AS DOUBLE) / CAST(t AS DOUBLE) AS c22,
                     CAST(sylxl AS DOUBLE) - CAST(syl AS DOUBLE)
                       * CAST(sxl AS DOUBLE) / CAST(t AS DOUBLE) AS c12,
                     CAST(syyl AS DOUBLE) - CAST(sy AS DOUBLE)
                       * CAST(syl AS DOUBLE) / CAST(t AS DOUBLE) AS c1y,
                     CAST(syxl AS DOUBLE) - CAST(sy AS DOUBLE)
                       * CAST(sxl AS DOUBLE) / CAST(t AS DOUBLE) AS c2y
                   FROM m),
             d2 AS (SELECT *, c11 * c22 - c12 * c12 AS det FROM c),
             b AS (SELECT *,
                     CASE WHEN det = CAST(0 AS DOUBLE) THEN NULL
                       ELSE (c1y * c22 - c2y * c12) / det END AS b1,
                     CASE WHEN det = CAST(0 AS DOUBLE) THEN NULL
                       ELSE (c11 * c2y - c12 * c1y) / det END AS b2
                   FROM d2),
             r AS (SELECT *,
                     CASE WHEN c11 = CAST(0 AS DOUBLE) THEN NULL
                       ELSE cyy - c1y * c1y / c11 END AS ssr_r,
                     CASE WHEN b1 IS NULL THEN NULL
                       ELSE cyy - b1 * c1y - b2 * c2y END AS ssr_u
                   FROM b)
            SELECT t, b1, b2, ssr_r, ssr_u,
                   CASE WHEN ssr_u IS NULL OR ssr_r IS NULL
                     OR ssr_u <= CAST(0 AS DOUBLE) THEN NULL
                     ELSE (ssr_r - ssr_u) * CAST(t - 3 AS DOUBLE)
                       / ssr_u END AS f_stat
            FROM r"""))

  /** Beta–binomial posterior per priority — the Bayesian companion to
    * q_agg_wilson_ci's frequentist interval (same weekend-share
    * census, different inferential contract: a POSTERIOR over the
    * rate under a uniform Beta(1,1) prior — the prior is an explicit
    * policy literal): posterior Beta(1+k, 1+n−k) mean, exact-moment
    * variance ab/((a+b)²(a+b+1)), and a ±1.96·sd normal approximation
    * of the credible interval (the Beta quantile is not portable SQL —
    * the approximation is STATED, and at n in the thousands it is
    * tight). Scale: ONE map-combining aggregate.
    */
  val qAggBetaBinomial = Q(
    "q_agg_beta_binomial",
    (s, dir) => {
      Tables.orders(s, dir)
        .select(col("o_orderpriority").as("pri"),
          when(dayofweek(col("o_orderdate")).isin(1, 7), 1L)
            .otherwise(0L).as("wk"))
        .groupBy("pri")
        .agg(count(lit(1)).as("n"), sum(col("wk")).as("k"))
        .withColumn("a", expr("CAST(1 + k AS DOUBLE)"))
        .withColumn("b", expr("CAST(1 + n - k AS DOUBLE)"))
        .select(col("pri"), col("n"), col("k"),
          expr("a / (a + b)").as("post_mean"),
          expr("sqrt(a * b / ((a + b) * (a + b) * (a + b" +
            " + CAST(1 AS DOUBLE))))").as("post_sd"))
        .select(col("pri"), col("n"), col("k"), col("post_mean"),
          col("post_sd"),
          expr("greatest(CAST(0 AS DOUBLE)," +
            " post_mean - 1.96 * post_sd)").as("cred_lo"),
          expr("least(CAST(1 AS DOUBLE)," +
            " post_mean + 1.96 * post_sd)").as("cred_hi"))
        .orderBy("pri")
    },
    Some("""WITH m AS (SELECT o_orderpriority AS pri,
                    CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(CASE WHEN dayofweek(CAST(o_orderdate
                             AS DATE)) IN (0, 6) THEN 1 ELSE 0 END)
                      AS BIGINT) AS k
                  FROM orders GROUP BY 1),
             d AS (SELECT pri, n, k,
                     CAST(1 + k AS DOUBLE) AS a,
                     CAST(1 + n - k AS DOUBLE) AS b
                   FROM m),
             e AS (SELECT pri, n, k,
                     a / (a + b) AS post_mean,
                     sqrt(a * b / ((a + b) * (a + b)
                       * (a + b + CAST(1 AS DOUBLE)))) AS post_sd
                   FROM d)
            SELECT pri, n, k, post_mean, post_sd,
                   greatest(CAST(0 AS DOUBLE),
                     post_mean - 1.96 * post_sd) AS cred_lo,
                   least(CAST(1 AS DOUBLE),
                     post_mean + 1.96 * post_sd) AS cred_hi
            FROM e ORDER BY pri"""))

  /** Turning-point randomness test per returnflag — "is this daily
    * series actually random or does it trend/oscillate" (the cheap
    * first question before fitting anything): T = count of local
    * extrema in the daily revenue series (x_{t−1} < x_t > x_{t+1} or
    * the mirror — strict, ties break no turn, stated), E[T] =
    * 2(n−2)/3 and Var = (16n−29)/90 under IID, z = (T − E)/√Var.
    * |z| ≫ 2 low means trending (too few turns), high means
    * oscillation (too many). Lags ride per-flag calendar-bounded
    * windows. Scale: one daily rollup + O(days) arithmetic.
    */
  val qTimeTurningPoints = Q(
    "q_time_turning_points",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Det.dailyCents(s, dir, "v", rule = Det.sqlRoundCents)
      val w = Window.partitionBy("flag").orderBy("d")
      daily
        .withColumn("pv", lag(col("v"), 1).over(w))
        .withColumn("nv", lead(col("v"), 1).over(w))
        .where(col("pv").isNotNull && col("nv").isNotNull)
        .groupBy("flag")
        .agg(count(lit(1)).as("n_interior"),
          sum(when((col("pv") < col("v") && col("v") > col("nv")) ||
            (col("pv") > col("v") && col("v") < col("nv")), 1L)
            .otherwise(0L)).as("t_turns"))
        .withColumn("n", expr("n_interior + 2"))
        .select(col("flag"), col("n"), col("t_turns"),
          expr("CAST(2 AS DOUBLE) * CAST(n - 2 AS DOUBLE)" +
            " / CAST(3 AS DOUBLE)").as("expected_turns"),
          expr("(CAST(t_turns AS DOUBLE)" +
            " - CAST(2 AS DOUBLE) * CAST(n - 2 AS DOUBLE)" +
            "   / CAST(3 AS DOUBLE))" +
            " / sqrt(CAST(16 * n - 29 AS DOUBLE) / CAST(90 AS DOUBLE))")
            .as("z"))
        .orderBy("flag")
    },
    Some(s"""WITH daily AS (${Det.sqlDailyCents("v",
                  rule = Det.sqlRoundCents)}),
             lagged AS (SELECT flag, v,
                     lag(v, 1) OVER (PARTITION BY flag ORDER BY d)
                       AS pv,
                     lead(v, 1) OVER (PARTITION BY flag ORDER BY d)
                       AS nv
                   FROM daily),
             m AS (SELECT flag,
                     CAST(count(*) AS BIGINT) AS n_interior,
                     CAST(sum(CASE WHEN (pv < v AND v > nv)
                              OR (pv > v AND v < nv) THEN 1 ELSE 0 END)
                       AS BIGINT) AS t_turns
                   FROM lagged
                   WHERE pv IS NOT NULL AND nv IS NOT NULL
                   GROUP BY flag),
             e AS (SELECT flag, n_interior + 2 AS n, t_turns FROM m)
            SELECT flag, n, t_turns,
                   CAST(2 AS DOUBLE) * CAST(n - 2 AS DOUBLE)
                     / CAST(3 AS DOUBLE) AS expected_turns,
                   (CAST(t_turns AS DOUBLE)
                    - CAST(2 AS DOUBLE) * CAST(n - 2 AS DOUBLE)
                      / CAST(3 AS DOUBLE))
                   / sqrt(CAST(16 * n - 29 AS DOUBLE)
                          / CAST(90 AS DOUBLE)) AS z
            FROM e ORDER BY flag"""))

  /** Kruskal–Wallis H — the k-group generalization of
    * q_agg_mannwhitney (one-way ANOVA on ranks; no normality
    * assumption, unlike q_agg_anova on the same axis): are the
    * order-total distributions across the five order priorities
    * shifted? All rank mass is exact integers via the twice-rank trick
    * (avg tied rank = clt + (cnt+1)/2, so 2·rank is integral): a
    * per-(value,group) count c contributes c·(2·clt+cnt+1) to TWICE
    * the group rank-sum. H = 12/(N(N+1))·Σ R_g²/n_g − 3(N+1) with the
    * tie correction H* = H / (1 − Σ(t³−t)/(N³−N)); the Σ R_g²/n_g
    * terms ride the decimal order-free sum. The global value prefix is
    * the Prefix bucket-offset two-phase form (no partition-less
    * window); the oracle spells the same prefix as a plain window.
    * Scale: two hash aggregates on the value axis + O(distinct values)
    * prefix + O(k) arithmetic. The twice-rank carrier is BIGINT like
    * q_agg_mannwhitney's (Σ ≤ N·(2N+2) — exact to N ≈ 2·10⁹ rows;
    * beyond that carry it on DECIMAL(38,0)).
    */
  val qAggKruskalWallis = Q(
    "q_agg_kruskal_wallis",
    (s, dir) => {
      // r22 (verdict #1, guide §2.4): tot aggregates vr DIRECTLY —
      // runningSum is row-preserving over vr, so Σcnt and the tie cubes
      // are identical on either frame, and the tot leg drops the whole
      // Prefix bucket/window subtree from the plan (the committed
      // 1032-line before-plan carried it twice). The duplicated pv/vr
      // aggregate exchanges dedup at runtime via ReusedExchange.
      // (Eager pins of pv/vr/g were A/B'd and LOST in-box — 3 pin jobs
      // put +1.4 s on the query at sf0.1.)
      val v = Tables.orders(s, dir).select(
        col("o_orderpriority").as("pri"), Det.cents("o_totalprice").as("v"))
      val pv = v.groupBy("v", "pri").agg(count(lit(1)).as("c"))
      val vr = pv.groupBy("v").agg(sum(col("c")).as("cnt"))
      val cum = Prefix.runningSum(
        Prefix.withRangeBucket(vr, col("v"), 64, "__b"),
        "__b", Seq(col("v")), bucketDesc = false, col("cnt"), "cle")
        .withColumn("clt", col("cle") - col("cnt"))
        .select("v", "cnt", "clt")
      val g = pv.join(cum, Seq("v"))
        .groupBy("pri")
        .agg(sum(col("c")).as("n_g"),
          sum(col("c") * (col("clt") * 2 + col("cnt") + 1)).as("r2_g"))
      val tot = vr.agg(
        sum(col("cnt")).as("n"),
        // DECIMAL(38,0) tie cube — the q_agg_mannwhitney overflow rule
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * CAST(cnt AS DECIMAL(38,0))" +
          " * CAST(cnt AS DECIMAL(38,0)) - CAST(cnt AS DECIMAL(38,0))"))
          .as("ties"))
      val hs = g.agg(
        count(lit(1)).as("k"),
        Det.dsum(expr("(CAST(r2_g AS DOUBLE) / CAST(2 AS DOUBLE))" +
          " * (CAST(r2_g AS DOUBLE) / CAST(2 AS DOUBLE))" +
          " / CAST(n_g AS DOUBLE)")).as("sr"))
      val hr = hs.crossJoin(broadcast(tot))
        .select(col("k"), col("n"), col("ties"),
          expr("CAST(12 AS DOUBLE) / (CAST(n AS DOUBLE)" +
            " * CAST(n + 1 AS DOUBLE)) * sr" +
            " - CAST(3 AS DOUBLE) * CAST(n + 1 AS DOUBLE)").as("h"))
        .withColumn("h_corr", expr(
          "h / (CAST(1 AS DOUBLE) - CAST(ties AS DOUBLE)" +
            " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)" +
            " * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))"))
        .select("k", "n", "h", "h_corr")
      g.crossJoin(broadcast(hr))
        .select(col("pri"), col("n_g"),
          expr("CAST(r2_g AS DOUBLE) / CAST(2 AS DOUBLE)")
            .as("rank_sum"),
          col("k"), col("n"), col("h"), col("h_corr"))
        .orderBy("pri")
    },
    Some(s"""WITH x AS (SELECT o_orderpriority AS pri,
                    ${Det.sqlCents("o_totalprice")} AS v
                  FROM orders),
             pv AS (SELECT v, pri, CAST(count(*) AS BIGINT) AS c
                    FROM x GROUP BY 1, 2),
             vr AS (SELECT v, CAST(sum(c) AS BIGINT) AS cnt
                    FROM pv GROUP BY v),
             cum AS (SELECT v, cnt,
                       CAST(sum(cnt) OVER (ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) - cnt AS clt
                     FROM vr),
             g AS (SELECT pri, CAST(sum(c) AS BIGINT) AS n_g,
                     CAST(sum(c * (clt * 2 + cnt + 1)) AS BIGINT) AS r2_g
                   FROM pv JOIN cum USING (v) GROUP BY pri),
             tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
                       sum(CAST(cnt AS DECIMAL(38,0)) * CAST(cnt AS DECIMAL(38,0))
                         * CAST(cnt AS DECIMAL(38,0))
                         - CAST(cnt AS DECIMAL(38,0))) AS ties
                     FROM cum),
             hs AS (SELECT CAST(count(*) AS BIGINT) AS k,
                      ${Det.sqlSum(
                        "(CAST(r2_g AS DOUBLE) / CAST(2 AS DOUBLE))" +
                        " * (CAST(r2_g AS DOUBLE) / CAST(2 AS DOUBLE))" +
                        " / CAST(n_g AS DOUBLE)")} AS sr
                    FROM g),
             hr AS (SELECT k, n, ties,
                      CAST(12 AS DOUBLE) / (CAST(n AS DOUBLE)
                        * CAST(n + 1 AS DOUBLE)) * sr
                      - CAST(3 AS DOUBLE) * CAST(n + 1 AS DOUBLE) AS h
                    FROM hs, tot),
             hc AS (SELECT k, n, h,
                      h / (CAST(1 AS DOUBLE) - CAST(ties AS DOUBLE)
                        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                           * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))
                        AS h_corr
                    FROM hr)
            SELECT pri, n_g,
                   CAST(r2_g AS DOUBLE) / CAST(2 AS DOUBLE) AS rank_sum,
                   k, n, h, h_corr
            FROM g, hc ORDER BY pri"""))

  /** Wilcoxon signed-rank — the PAIRED companion to q_agg_mannwhitney
    * (within-subject shift, not between-group): for each customer, the
    * pair is (first-half-of-year order total, second-half total) —
    * zero-filled when a half is empty, a stated construction — and the
    * test asks whether the paired difference is symmetric about 0.
    * Zero differences drop (standard practice); |d| ranks ride the
    * same exact twice-rank prefix as Kruskal–Wallis; W⁺ = Σ avg ranks
    * of positive d; z = (W⁺ − n(n+1)/4) / √(n(n+1)(2n+1)/24 − Σ(t³−t)/48).
    * Scale: one customer-key aggregate + O(distinct |d|) prefix.
    */
  val qAggWilcoxonSigned = Q(
    "q_agg_wilcoxon_signed",
    (s, dir) => {
      val pairs = Tables.orders(s, dir)
        .select(col("o_custkey").as("ck"),
          Det.cents("o_totalprice").as("cents"),
          when(month(col("o_orderdate")) <= 6, 1L).otherwise(0L)
            .as("h1"))
        .groupBy("ck")
        .agg(sum(when(col("h1") === 1, col("cents")).otherwise(0L))
          .as("a"),
          sum(when(col("h1") === 0, col("cents")).otherwise(0L))
            .as("b"))
        .withColumn("d", col("a") - col("b"))
        .where(col("d") =!= 0)
        .select(col("d"), abs(col("d")).as("ad"))
      val grp = pairs.groupBy("ad").agg(
        count(lit(1)).as("cnt"),
        sum(when(col("d") > 0, 1L).otherwise(0L)).as("pos"))
      val cum = Prefix.runningSum(
        Prefix.withRangeBucket(grp, col("ad"), 64, "__b"),
        "__b", Seq(col("ad")), bucketDesc = false, col("cnt"), "cle")
        .withColumn("clt", col("cle") - col("cnt"))
      cum.agg(
        sum(col("cnt")).as("n"),
        sum(col("pos") * (col("clt") * 2 + col("cnt") + 1)).as("w2"),
        // DECIMAL(38,0) tie cube — the q_agg_mannwhitney overflow rule
        sum(expr("CAST(cnt AS DECIMAL(38,0)) * CAST(cnt AS DECIMAL(38,0))" +
          " * CAST(cnt AS DECIMAL(38,0)) - CAST(cnt AS DECIMAL(38,0))"))
          .as("ties"))
        .select(col("n"),
          expr("CAST(w2 AS DOUBLE) / CAST(2 AS DOUBLE)").as("w_plus"),
          expr("(CAST(w2 AS DOUBLE) / CAST(2 AS DOUBLE)" +
            " - CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)" +
            " / CAST(4 AS DOUBLE))" +
            " / sqrt(CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)" +
            " * (CAST(2 AS DOUBLE) * CAST(n AS DOUBLE)" +
            " + CAST(1 AS DOUBLE)) / CAST(24 AS DOUBLE)" +
            " - CAST(ties AS DOUBLE) / CAST(48 AS DOUBLE))").as("z"))
    },
    Some(s"""WITH x AS (SELECT o_custkey AS ck,
                    ${Det.sqlCents("o_totalprice")} AS cents,
                    CASE WHEN month(o_orderdate) <= 6 THEN 1 ELSE 0 END
                      AS h1
                  FROM orders),
             p AS (SELECT ck,
                     CAST(sum(CASE WHEN h1 = 1 THEN cents ELSE 0 END)
                       AS BIGINT) AS a,
                     CAST(sum(CASE WHEN h1 = 0 THEN cents ELSE 0 END)
                       AS BIGINT) AS b
                   FROM x GROUP BY ck),
             d0 AS (SELECT a - b AS d, abs(a - b) AS ad FROM p
                    WHERE a - b <> 0),
             grp AS (SELECT ad, CAST(count(*) AS BIGINT) AS cnt,
                       CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)
                         AS BIGINT) AS pos
                     FROM d0 GROUP BY ad),
             cum AS (SELECT ad, cnt, pos,
                       CAST(sum(cnt) OVER (ORDER BY ad
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) - cnt AS clt
                     FROM grp),
             agg AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
                       CAST(sum(pos * (clt * 2 + cnt + 1)) AS BIGINT)
                         AS w2,
                       sum(CAST(cnt AS DECIMAL(38,0)) * CAST(cnt AS DECIMAL(38,0))
                         * CAST(cnt AS DECIMAL(38,0))
                         - CAST(cnt AS DECIMAL(38,0))) AS ties
                     FROM cum)
            SELECT n,
                   CAST(w2 AS DOUBLE) / CAST(2 AS DOUBLE) AS w_plus,
                   (CAST(w2 AS DOUBLE) / CAST(2 AS DOUBLE)
                    - CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
                      / CAST(4 AS DOUBLE))
                   / sqrt(CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)
                     * (CAST(2 AS DOUBLE) * CAST(n AS DOUBLE)
                        + CAST(1 AS DOUBLE)) / CAST(24 AS DOUBLE)
                     - CAST(ties AS DOUBLE) / CAST(48 AS DOUBLE)) AS z
            FROM agg"""))

  /** Sign test on day-over-day revenue direction per returnflag — the
    * weakest-assumption location test (only the SIGN of each change is
    * used; no symmetry assumption, unlike Wilcoxon): under H₀ ups and
    * downs are equally likely, pos − neg has variance n, and the
    * continuity-corrected two-sided z = max(|pos−neg|−1, 0)/√n — the
    * corrected difference CLAMPS at zero (the q_eval_mcnemar r15-fix
    * convention, applied here from day one). Zero changes drop.
    * Scale: one daily rollup + per-flag calendar-bounded lag windows.
    */
  val qAggSignTest = Q(
    "q_agg_sign_test",
    (s, dir) => {
      val daily = Det.dailyCents(s, dir, "v", rule = Det.sqlRoundCents)
      val w = Window.partitionBy("flag").orderBy("d")
      daily.withColumn("pv", lag(col("v"), 1).over(w))
        .where(col("pv").isNotNull)
        .groupBy("flag")
        .agg(sum(when(col("v") > col("pv"), 1L).otherwise(0L))
          .as("n_pos"),
          sum(when(col("v") < col("pv"), 1L).otherwise(0L))
            .as("n_neg"),
          sum(when(col("v") === col("pv"), 1L).otherwise(0L))
            .as("n_zero"))
        .select(col("flag"), col("n_pos"), col("n_neg"), col("n_zero"),
          // all-ties guard (wave convention): every interior change
          // zero ⇒ n_pos+n_neg = 0 and z is 0/0 — NULL, not NaN
          expr("CASE WHEN n_pos + n_neg = 0 THEN NULL ELSE" +
            " greatest(abs(CAST(n_pos - n_neg AS DOUBLE))" +
            " - CAST(1 AS DOUBLE), CAST(0 AS DOUBLE))" +
            " / sqrt(CAST(n_pos + n_neg AS DOUBLE)) END").as("z_abs"))
        .orderBy("flag")
    },
    Some(s"""WITH daily AS (${Det.sqlDailyCents("v",
                  rule = Det.sqlRoundCents)}),
             lagged AS (SELECT flag, v,
                     lag(v, 1) OVER (PARTITION BY flag ORDER BY d) AS pv
                   FROM daily),
             m AS (SELECT flag,
                     CAST(sum(CASE WHEN v > pv THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_pos,
                     CAST(sum(CASE WHEN v < pv THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_neg,
                     CAST(sum(CASE WHEN v = pv THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_zero
                   FROM lagged WHERE pv IS NOT NULL GROUP BY flag)
            SELECT flag, n_pos, n_neg, n_zero,
                   CASE WHEN n_pos + n_neg = 0 THEN NULL ELSE
                     greatest(abs(CAST(n_pos - n_neg AS DOUBLE))
                       - CAST(1 AS DOUBLE), CAST(0 AS DOUBLE))
                     / sqrt(CAST(n_pos + n_neg AS DOUBLE)) END AS z_abs
            FROM m ORDER BY flag"""))

  /** Friedman test — the REPEATED-MEASURES member of the nonparametric
    * family (Kruskal–Wallis assumes independent groups; Friedman ranks
    * WITHIN each block, so block-level level-shifts cancel): does order
    * priority shift revenue once nation-level differences are removed?
    * Blocks = the 25 nations, treatments = the 5 priorities, cell value
    * = exact total cents per (nation, priority); only COMPLETE blocks
    * (all 5 treatments present) enter, the textbook validity rule made
    * an explicit deterministic filter. Within-block midranks ride the
    * twice-rank trick on bounded windows (k = 5 rows per block):
    * 2·midrank = 2·rank() + tiecount − 1, so every rank sum is an exact
    * BIGINT. χ²_F = 12/(nk(k+1))·ΣR_j² − 3n(k+1) spelled on the 2R
    * carrier as 3·Σ(2R_j)²/(nk(k+1)) − 3n(k+1); the tie correction
    * divides by 1 − Σ(t³−t)/(n(k³−k)) with a zero guard. Scale: one
    * orders⋈customer shuffle join + a (25×5)-cell aggregate — every
    * window is partitioned by block and bounded by k. */
  val qAggFriedman = Q(
    "q_agg_friedman",
    (s, dir) => {
      val cell = Tables.orders(s, dir)
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("b"),
          col("o_orderpriority").as("pri"))
        .agg(sum(Det.cents("o_totalprice")).as("v"))
      val fullB = cell.groupBy("b").agg(count(lit(1)).as("kc"))
        .where(col("kc") === 5).select("b")
      val kept = cell.join(fullB, Seq("b"))
      val r = kept.withColumn("rk2",
        rank().over(Window.partitionBy("b").orderBy("v")) * 2
          + count(lit(1)).over(Window.partitionBy("b", "v")) - 1)
      val g = r.groupBy("pri")
        .agg(sum(col("rk2").cast("long")).as("rank2_sum"))
      val ties = kept.groupBy("b", "v").agg(count(lit(1)).as("t"))
        .agg(coalesce(sum(col("t") * col("t") * col("t") - col("t")),
          lit(0L)).as("ties"))
      val nb = fullB.agg(count(lit(1)).as("n"))
      val hh = g.agg(sum(col("rank2_sum") * col("rank2_sum")).as("sr2"))
        .crossJoin(broadcast(nb)).crossJoin(broadcast(ties))
        .select(col("n"), col("ties"),
          expr("CASE WHEN n = 0 THEN NULL ELSE" +
            " CAST(3 AS DOUBLE) * CAST(sr2 AS DOUBLE)" +
            " / (CAST(n AS DOUBLE) * CAST(5 AS DOUBLE)" +
            " * CAST(6 AS DOUBLE))" +
            " - CAST(3 AS DOUBLE) * CAST(n AS DOUBLE)" +
            " * CAST(6 AS DOUBLE) END").as("chi2"))
        .withColumn("chi2_corr", expr(
          "CASE WHEN n = 0 OR ties = n * 120 THEN NULL ELSE" +
            " chi2 / (CAST(1 AS DOUBLE) - CAST(ties AS DOUBLE)" +
            " / (CAST(n AS DOUBLE) * CAST(120 AS DOUBLE))) END"))
      g.crossJoin(broadcast(hh))
        .select("pri", "rank2_sum", "n", "chi2", "chi2_corr")
        .orderBy("pri")
    },
    Some(s"""WITH cell AS (SELECT c_nationkey AS b,
                    o_orderpriority AS pri,
                    CAST(sum(${Det.sqlCents("o_totalprice")}) AS BIGINT) AS v
                  FROM orders JOIN customer ON o_custkey = c_custkey
                  GROUP BY 1, 2),
             full_b AS (SELECT b FROM cell GROUP BY b
                        HAVING count(*) = 5),
             kept AS (SELECT c.* FROM cell c JOIN full_b USING (b)),
             r AS (SELECT pri,
                     CAST(rank() OVER (PARTITION BY b ORDER BY v) * 2
                       + count(*) OVER (PARTITION BY b, v) - 1
                       AS BIGINT) AS rk2
                   FROM kept),
             g AS (SELECT pri, CAST(sum(rk2) AS BIGINT) AS rank2_sum
                   FROM r GROUP BY pri),
             tie AS (SELECT CAST(coalesce(sum(t * t * t - t), 0)
                       AS BIGINT) AS ties
                     FROM (SELECT CAST(count(*) AS BIGINT) AS t
                           FROM kept GROUP BY b, v)),
             nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM full_b),
             hh AS (SELECT n, ties,
                      CASE WHEN n = 0 THEN NULL ELSE
                        CAST(3 AS DOUBLE) * CAST(sr2 AS DOUBLE)
                        / (CAST(n AS DOUBLE) * CAST(5 AS DOUBLE)
                        * CAST(6 AS DOUBLE))
                        - CAST(3 AS DOUBLE) * CAST(n AS DOUBLE)
                        * CAST(6 AS DOUBLE) END AS chi2
                    FROM (SELECT CAST(sum(rank2_sum * rank2_sum)
                            AS BIGINT) AS sr2 FROM g), nb, tie),
             h2 AS (SELECT n, ties, chi2,
                      CASE WHEN n = 0 OR ties = n * 120 THEN NULL ELSE
                        chi2 / (CAST(1 AS DOUBLE) - CAST(ties AS DOUBLE)
                        / (CAST(n AS DOUBLE) * CAST(120 AS DOUBLE))) END
                        AS chi2_corr
                    FROM hh)
            SELECT pri, rank2_sum, n, chi2, chi2_corr
            FROM g, h2 ORDER BY pri"""))

  /** Mood's median test — the weakest-assumption k-group location test
    * (only "above the grand median or not" enters, so it survives
    * arbitrary heavy tails and censoring where Kruskal–Wallis's rank
    * variance does not): classify every order as above/at-or-below the
    * GRAND lower median of total cents, then χ² on the 2×5 table
    * against the margin-product expectation. The grand median is
    * percentile_disc-exact on the value axis — smallest v whose
    * inclusive cumulative count reaches ⌈N/2⌉, spelled integer-exactly
    * as 2·cum ≥ N — via the Prefix bucket-offset prefix (no
    * partition-less window over the corpus). Expected cells and the χ²
    * terms are one shared formula; the all-above / none-above
    * degenerate table guards to NULL. Scale: one value-axis aggregate +
    * Prefix + one broadcast scalar join back to the priority rollup. */
  val qAggMedianTest = Q(
    "q_agg_median_test",
    (s, dir) => {
      // r22 note: a (v, pri)-granularity shared axis (pvp) was A/B'd
      // here and REVERTED — runtime exchange reuse did not fire across
      // the med/g legs, so the query shipped the ~5×-row pvp exchange
      // twice (shuffle read 4.5 → 9.0 MB at sf0.1) while the original
      // g-leg aggregates map-side to one row per priority (near-zero
      // shuffle). Eager pins of pv/med/g were likewise A/B'd and lost
      // in-box (pin jobs cost more than the planning they save). The
      // original two-pass shape stands — see OPTIMIZATION_r22.md.
      val x = Tables.orders(s, dir).select(
        col("o_orderpriority").as("pri"), Det.cents("o_totalprice").as("v"))
      val pv = x.groupBy("v").agg(count(lit(1)).as("cnt"))
      val cum = Prefix.runningSum(
        Prefix.withRangeBucket(pv, col("v"), 64, "__b"),
        "__b", Seq(col("v")), bucketDesc = false, col("cnt"), "cle")
        .select("v", "cle")
      val tot = pv.agg(sum(col("cnt")).as("n"))
      val med = cum.crossJoin(broadcast(tot))
        .where(col("cle") * 2 >= col("n"))
        .agg(min(col("v")).as("med"))
      val g = x.crossJoin(broadcast(med))
        .groupBy("pri")
        .agg(count(lit(1)).as("n_g"),
          sum(when(col("v") > col("med"), 1L).otherwise(0L)).as("above"))
        .withColumn("below", col("n_g") - col("above"))
      val t2 = g.agg(sum(col("n_g")).as("nn"), sum(col("above")).as("aa"))
      val chi = g.crossJoin(broadcast(t2))
        .select(expr(
          "CASE WHEN aa = 0 OR aa = nn THEN NULL ELSE" +
            " (CAST(above AS DOUBLE) - CAST(n_g AS DOUBLE)" +
            " * CAST(aa AS DOUBLE) / CAST(nn AS DOUBLE))" +
            " * (CAST(above AS DOUBLE) - CAST(n_g AS DOUBLE)" +
            " * CAST(aa AS DOUBLE) / CAST(nn AS DOUBLE))" +
            " / (CAST(n_g AS DOUBLE) * CAST(aa AS DOUBLE)" +
            " / CAST(nn AS DOUBLE))" +
            " + (CAST(below AS DOUBLE) - CAST(n_g AS DOUBLE)" +
            " * CAST(nn - aa AS DOUBLE) / CAST(nn AS DOUBLE))" +
            " * (CAST(below AS DOUBLE) - CAST(n_g AS DOUBLE)" +
            " * CAST(nn - aa AS DOUBLE) / CAST(nn AS DOUBLE))" +
            " / (CAST(n_g AS DOUBLE) * CAST(nn - aa AS DOUBLE)" +
            " / CAST(nn AS DOUBLE)) END").as("term"))
        .agg(sum(expr("CAST(term AS DECIMAL(38,12))"))
          .cast(DoubleType).as("chi2"))
      g.crossJoin(broadcast(med)).crossJoin(broadcast(chi))
        .select("pri", "n_g", "above", "below", "med", "chi2")
        .orderBy("pri")
    },
    Some(s"""WITH x AS (SELECT o_orderpriority AS pri,
                    ${Det.sqlCents("o_totalprice")} AS v
                  FROM orders),
             pv AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt
                    FROM x GROUP BY v),
             cum AS (SELECT v,
                       CAST(sum(cnt) OVER (ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) AS cle
                     FROM pv),
             tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM pv),
             med AS (SELECT min(v) AS med FROM cum, tot
                     WHERE cle * 2 >= n),
             g AS (SELECT pri, CAST(count(*) AS BIGINT) AS n_g,
                     CAST(sum(CASE WHEN v > med THEN 1 ELSE 0 END)
                       AS BIGINT) AS above
                   FROM x, med GROUP BY pri),
             g2 AS (SELECT pri, n_g, above,
                      CAST(n_g - above AS BIGINT) AS below FROM g),
             t2 AS (SELECT CAST(sum(n_g) AS BIGINT) AS nn,
                      CAST(sum(above) AS BIGINT) AS aa FROM g2),
             trm AS (SELECT CASE WHEN aa = 0 OR aa = nn THEN NULL ELSE
                       (CAST(above AS DOUBLE) - CAST(n_g AS DOUBLE)
                         * CAST(aa AS DOUBLE) / CAST(nn AS DOUBLE))
                       * (CAST(above AS DOUBLE) - CAST(n_g AS DOUBLE)
                         * CAST(aa AS DOUBLE) / CAST(nn AS DOUBLE))
                       / (CAST(n_g AS DOUBLE) * CAST(aa AS DOUBLE)
                         / CAST(nn AS DOUBLE))
                       + (CAST(below AS DOUBLE) - CAST(n_g AS DOUBLE)
                         * CAST(nn - aa AS DOUBLE) / CAST(nn AS DOUBLE))
                       * (CAST(below AS DOUBLE) - CAST(n_g AS DOUBLE)
                         * CAST(nn - aa AS DOUBLE) / CAST(nn AS DOUBLE))
                       / (CAST(n_g AS DOUBLE) * CAST(nn - aa AS DOUBLE)
                         / CAST(nn AS DOUBLE)) END AS term
                     FROM g2, t2),
             chi AS (SELECT CAST(SUM(CAST(term AS DECIMAL(38,12)))
                       AS DOUBLE) AS chi2 FROM trm)
            SELECT pri, n_g, above, below, med, chi2
            FROM g2, med, chi ORDER BY pri"""))

  /** Cochran's Q — the k-related-samples test for BINARY outcomes
    * (Friedman's sibling when the measurement is a flag, McNemar's
    * k-group generalization): did the population of active customers
    * change its "placed ≥1 order this year" behavior across
    * 1995/1996/1997? x_ij ∈ {0,1} per (customer, year); subjects with
    * no order in any of the three years contribute zero to every
    * moment, so restricting to customers seen at least once is
    * Q-invariant (stated, not assumed). Q = (k−1)·Σ_j(kC_j − T)² /
    * (k·(kT − ΣR_i²)) — the margin-scaled spelling keeps every moment
    * an exact integer (squares ride DECIMAL(38,0), the Granger
    * carrier, so the 100 TB census does not overflow); one IEEE
    * division at the end, all-identical / all-different denominators
    * guard to NULL. Scale: one distinct (customer, year) aggregate +
    * two bounded moment rollups. */
  val qAggCochranQ = Q(
    "q_agg_cochran_q",
    (s, dir) => {
      val cy = Tables.orders(s, dir)
        .where(expr("year(o_orderdate) IN (1995, 1996, 1997)"))
        .select(col("o_custkey").as("ck"),
          year(col("o_orderdate")).as("yr"))
        .distinct()
      val rm = cy.groupBy("ck").agg(count(lit(1)).as("r"))
        .agg(count(lit(1)).as("subjects"), sum(col("r")).as("t"),
          sum(col("r") * col("r")).as("r2"))
      val ct = cy.groupBy("yr").agg(count(lit(1)).as("c"))
      ct.crossJoin(broadcast(rm))
        .agg(
          max(col("subjects")).as("subjects"),
          max(col("t")).as("t"), max(col("r2")).as("r2"),
          sum(expr("CAST(CAST(3 * c - t AS DECIMAL(38,0))" +
            " * CAST(3 * c - t AS DECIMAL(38,0)) AS DECIMAL(38,0))"))
            .as("num"),
          max(when(col("yr") === 1995, col("c"))).as("c95"),
          max(when(col("yr") === 1996, col("c"))).as("c96"),
          max(when(col("yr") === 1997, col("c"))).as("c97"))
        .select(col("subjects"), col("t"), col("r2"),
          col("c95"), col("c96"), col("c97"),
          expr("CASE WHEN t IS NULL OR 3 * t - r2 = 0 THEN NULL ELSE" +
            " CAST(2 AS DOUBLE) * CAST(num AS DOUBLE)" +
            " / (CAST(3 AS DOUBLE) * CAST(3 * t - r2 AS DOUBLE)) END")
            .as("q_stat"))
    },
    Some("""WITH cy AS (SELECT DISTINCT o_custkey AS ck,
                    CAST(year(o_orderdate) AS BIGINT) AS yr
                  FROM orders
                  WHERE year(o_orderdate) IN (1995, 1996, 1997)),
             rm AS (SELECT CAST(count(*) AS BIGINT) AS subjects,
                      CAST(sum(r) AS BIGINT) AS t,
                      CAST(sum(r * r) AS BIGINT) AS r2
                    FROM (SELECT CAST(count(*) AS BIGINT) AS r
                          FROM cy GROUP BY ck)),
             ct AS (SELECT yr, CAST(count(*) AS BIGINT) AS c
                    FROM cy GROUP BY yr),
             a AS (SELECT max(subjects) AS subjects, max(t) AS t,
                     max(r2) AS r2,
                     sum(CAST(CAST(3 * c - t AS DECIMAL(38,0))
                       * CAST(3 * c - t AS DECIMAL(38,0))
                       AS DECIMAL(38,0))) AS num,
                     max(CASE WHEN yr = 1995 THEN c END) AS c95,
                     max(CASE WHEN yr = 1996 THEN c END) AS c96,
                     max(CASE WHEN yr = 1997 THEN c END) AS c97
                   FROM ct, rm)
            SELECT subjects, t, r2, c95, c96, c97,
                   CASE WHEN t IS NULL OR 3 * t - r2 = 0 THEN NULL ELSE
                     CAST(2 AS DOUBLE) * CAST(num AS DOUBLE)
                     / (CAST(3 AS DOUBLE) * CAST(3 * t - r2 AS DOUBLE))
                     END AS q_stat
            FROM a"""))

  /** Anderson–Darling test of EXPONENTIALITY — the tail-weighted EDF
    * test next to q_agg_ks_test's sup-norm one (AD's 1/(F(1−F))
    * weighting makes it the standard choice when the alternative lives
    * in the tails, exactly where revenue distributions deviate): is
    * order total consistent with an exponential at the fitted rate?
    * The exponential null keeps BOTH logs closed-form-portable:
    * ln(1−F(x)) = −x/λ̂ exactly, and F uses one shared exp(). The
    * classic sorted-sample sum Σ(2i−1)[ln F(x_i) + ln(1−F(x_{n+1−i}))]
    * is regrouped per DISTINCT value — a tie run of count c starting
    * after clt smaller rows contributes the exact integer coefficients
    * c·(2·clt+c) on ln F and c·(2·cgt+c) on ln(1−F) (the reversed-index
    * sum telescopes to the count-greater mirror) — so no per-row rank
    * is ever materialized; the value-axis prefix rides the Prefix
    * bucket-offset form. Terms sum order-free on DECIMAL(38,12)
    * (entropy doctrine); A*² = A²(1+0.6/n) is the exponential-case
    * small-sample spelling. Coefficient carrier is BIGINT — exact to
    * n ≈ 2·10⁹ rows, beyond that carry DECIMAL(38,0) (the
    * q_agg_mannwhitney bound, shared). */
  val qAggAndersonDarling = Q(
    "q_agg_anderson_darling",
    (s, dir) => {
      val pv = Tables.orders(s, dir).select(Det.cents("o_totalprice").as("v"))
        .groupBy("v").agg(count(lit(1)).as("cnt"))
      val cum = Prefix.runningSum(
        Prefix.withRangeBucket(pv, col("v"), 64, "__b"),
        "__b", Seq(col("v")), bucketDesc = false, col("cnt"), "cle")
        .withColumn("clt", col("cle") - col("cnt"))
      val tot = pv.agg(sum(col("cnt")).as("n"),
        sum(expr("CAST(CAST(v AS DECIMAL(38,0))" +
          " * CAST(cnt AS DECIMAL(38,0)) AS DECIMAL(38,0))")).as("sv"))
      val terms = cum.crossJoin(broadcast(tot))
        .withColumn("lam", expr("CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("z", expr("CAST(v AS DOUBLE) / lam"))
        // exp() and ln() outputs differ from DuckDB's in the last ulp on
        // ~8% of these inputs (measured 1219/15k at sf0.01 — this query's
        // z range is far less forgiving than the suite's other ln sites),
        // so both transcendental OUTPUTS are pinned to a 1e-6 grid (the
        // engines' round() itself wobbles an ulp, so the quantum must
        // dwarf BOTH wobbles: 1e-16 against 1e-6 makes a straddle
        // ~1e-10-probable per row); the deterministic quantization
        // shifts A² by well under 1e-3·n/λ-scale — beneath the
        // statistic's resolution, and identically in both engines
        .withColumn("ez", expr("round(exp(-z), 6)"))
        // degenerate-input guard (wave convention): z below ~1.4e-6
        // rounds ez to 1 and ln(1−ez) = −Inf; clamp ez to 1−1e-6 so the
        // term stays finite (identically in both engines). TPC-H order
        // totals never get near the clamp (min z ≈ 0.006, ez ≤ 0.994).
        .withColumn("lnp",
          expr("round(ln(CAST(1 AS DOUBLE)" +
            " - least(ez, CAST(0.999999 AS DOUBLE))), 6)"))
        .withColumn("term", expr(
          "CAST(cnt * (2 * clt + cnt) AS DOUBLE) * lnp" +
            " + CAST(cnt * (2 * (n - cle) + cnt) AS DOUBLE) * (-z)"))
      terms.agg(
        max(col("n")).as("n"), max(col("lam")).as("lambda_hat"),
        sum(expr("CAST(term AS DECIMAL(38,12))"))
          .cast(DoubleType).as("ssum"))
        // the Dec12 term-sum accumulates the engines' double→decimal
        // cast disagreement (Spark rounds the SHORTEST double repr
        // HALF_UP, DuckDB the exact binary value — measured on 7184 of
        // 15k casts at sf0.01, net ~1e-10): the final 1e-6 output grid
        // dwarfs it, the suite-wide convention for decimal-sum finals
        .select(col("n"), col("lambda_hat"),
          expr("round(-CAST(n AS DOUBLE) - ssum / CAST(n AS DOUBLE), 6)")
            .as("a2"))
        .withColumn("a2_star", expr(
          "round(a2 * (CAST(1 AS DOUBLE)" +
            " + CAST(0.6 AS DOUBLE) / CAST(n AS DOUBLE)), 6)"))
    },
    Some(s"""WITH pv AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt
                  FROM (SELECT ${Det.sqlCents("o_totalprice")} AS v
                    FROM orders) GROUP BY v),
             cum AS (SELECT v, cnt,
                       CAST(sum(cnt) OVER (ORDER BY v
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS BIGINT) AS cle
                     FROM pv),
             tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
                       sum(CAST(CAST(v AS DECIMAL(38,0))
                         * CAST(cnt AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                         AS sv
                     FROM pv),
             zz AS (SELECT n, cnt, cle,
                      CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS lam,
                      CAST(v AS DOUBLE)
                        / (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)) AS z
                    FROM cum, tot),
              zq AS (SELECT n, cnt, cle, lam, z,
                      round(exp(-z), 6) AS ez
                    FROM zz),
              zl AS (SELECT n, cnt, cle, lam, z,
                      round(ln(CAST(1 AS DOUBLE)
                        - least(ez, CAST(0.999999 AS DOUBLE))), 6) AS lnp
                    FROM zq),
             trm AS (SELECT n, lam,
                       CAST(cnt * (2 * (cle - cnt) + cnt) AS DOUBLE)
                         * lnp
                       + CAST(cnt * (2 * (n - cle) + cnt) AS DOUBLE)
                         * (-z) AS term
                     FROM zl),
             agg AS (SELECT max(n) AS n, max(lam) AS lambda_hat,
                       CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE)
                         AS ssum
                     FROM trm),
             f AS (SELECT n, lambda_hat,
                     round(-CAST(n AS DOUBLE) - ssum / CAST(n AS DOUBLE),
                       6) AS a2
                   FROM agg)
            SELECT n, lambda_hat, a2,
                   round(a2 * (CAST(1 AS DOUBLE)
                     + CAST(0.6 AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                     AS a2_star
            FROM f"""))

  /** Hurst exponent via rescaled-range (R/S) analysis — the
    * long-memory readout of the time family (autocorr sees one lag,
    * the periodogram one frequency; H says whether shocks PERSIST:
    * H > ½ trending, < ½ mean-reverting, = ½ random walk): daily
    * revenue is cut into complete blocks of m ∈ {16,32,64} days; per
    * block the range of cumulative mean-deviations over the population
    * std estimates R/S, and H is the log-log slope of mean ln(R/S)
    * against block size. Every block moment is integer-exact via the
    * cross-multiply trick: W_t·m = m·P_t − t·T (prefix P, total T) and
    * S²m² = m·Σy² − T², all on the DECIMAL(38,0) carrier, so the only
    * IEEE steps are one shared sqrt/division/ln per block. With
    * log2-spaced sizes the 3-point OLS slope collapses to
    * (z₆−z₄)/2 and H = slope/ln 2. ln-wobble discipline: per-block ln
    * terms Dec12-sum order-free, all double OUTPUTS on the 1e-6 grid
    * (the q_agg_anderson_darling cast-rule lesson). Zero-variance
    * blocks and trailing partial blocks drop (stated). Scale: the day
    * axis is dataset-bounded; the per-block windows are partitioned
    * and ≤64 rows; the one global row_number rides the daily rollup
    * (granger/running-frame allowlist class). */
  val qTimeHurst = Q(
    "q_time_hurst",
    (s, dir) => {
      // $100-unit carrier (cents DIV 10000): every decimal moment the
      // finals cast to double stays < 2^53 through sf1 (the hugeint→
      // double two-rounding class the periodogram documents); R/S is
      // scale-invariant so the coarsening only perturbs via truncation
      val daily = Det.dailyCents(s, dir, "yc", byFlag = false)
        .withColumn("y", expr("yc div 10000")).drop("yc")
        .withColumn("t", row_number().over(Window.orderBy("d")) - 1)
      val sizes = s.range(4, 7).select(col("id").cast(IntegerType).as("k"),
        expr("CAST(1 << CAST(id AS INT) AS INT)").as("m"))
      val wB = Window.partitionBy("m", "blk").orderBy("pos")
      val e = daily.crossJoin(broadcast(sizes))
        .withColumn("blk", expr("t div m"))
        .withColumn("pos", expr("t % m"))
        .withColumn("p", sum(col("y")).over(
          wB.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("tt", sum(col("y")).over(
          Window.partitionBy("m", "blk")))
        .withColumn("w", expr(
          "CAST(CAST(m AS DECIMAL(38,0)) * CAST(p AS DECIMAL(38,0))" +
            " - CAST(pos + 1 AS DECIMAL(38,0)) * CAST(tt AS DECIMAL(38,0))" +
            " AS DECIMAL(38,0))"))
      val blk = e.groupBy("m", "k", "blk")
        .agg(count(lit(1)).as("c"),
          (max(col("w")) - min(col("w"))).as("rm"),
          sum(col("y")).as("ts"),
          sum(expr("CAST(CAST(y AS DECIMAL(38,0))" +
            " * CAST(y AS DECIMAL(38,0)) AS DECIMAL(38,0))")).as("q2"))
        .withColumn("den", expr(
          "CAST(CAST(m AS DECIMAL(38,0)) * q2" +
            " - CAST(ts AS DECIMAL(38,0)) * CAST(ts AS DECIMAL(38,0))" +
            " AS DECIMAL(38,0))"))
        .where(col("c") === col("m")
          && expr("CAST(den AS DOUBLE) > CAST(0 AS DOUBLE)"))
        .withColumn("lnrs", expr(
          "ln(CAST(rm AS DOUBLE) / sqrt(CAST(den AS DOUBLE)))"))
      val bySize = blk.groupBy("m", "k")
        .agg(count(lit(1)).as("n_blocks"),
          (sum(expr("CAST(lnrs AS DECIMAL(38,12))")).cast(DoubleType)
            / count(lit(1)).cast(DoubleType)).as("z"))
      val hurst = bySize.agg(expr(
        "round((max(CASE WHEN k = 6 THEN z END)" +
          " - max(CASE WHEN k = 4 THEN z END))" +
          " / (CAST(2 AS DOUBLE) * ln(CAST(2 AS DOUBLE))), 6)")
        .as("hurst"))
      bySize.crossJoin(broadcast(hurst))
        .select(col("m"), col("n_blocks"),
          expr("round(z, 6)").as("mean_ln_rs"), col("hurst"))
        .orderBy("m")
    },
    Some(s"""WITH daily AS (SELECT CAST(l_shipdate AS DATE) AS d,
                    CAST(SUM(${Det.sqlCents("l_extendedprice")}) // 10000
                      AS BIGINT) AS y
                  FROM lineitem GROUP BY 1),
             rk AS (SELECT y,
                      row_number() OVER (ORDER BY d) - 1 AS t
                    FROM daily),
             sz AS (SELECT CAST(k AS INT) AS k,
                      CAST(1 << k AS INT) AS m
                    FROM (SELECT unnest(range(4, 7)) AS k)),
             e AS (SELECT m, k, t // m AS blk, t % m AS pos, y,
                     CAST(sum(y) OVER (PARTITION BY m, t // m ORDER BY t % m
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS BIGINT) AS p,
                     CAST(sum(y) OVER (PARTITION BY m, t // m)
                       AS BIGINT) AS tt
                   FROM rk CROSS JOIN sz),
             ew AS (SELECT m, k, blk, pos, y, p, tt,
                      CAST(CAST(m AS DECIMAL(38,0))
                        * CAST(p AS DECIMAL(38,0))
                        - CAST(pos + 1 AS DECIMAL(38,0))
                        * CAST(tt AS DECIMAL(38,0)) AS DECIMAL(38,0)) AS w
                    FROM e),
             blk AS (SELECT m, k, blk, CAST(count(*) AS BIGINT) AS c,
                       max(w) - min(w) AS rm,
                       CAST(sum(y) AS BIGINT) AS ts,
                       sum(CAST(CAST(y AS DECIMAL(38,0))
                         * CAST(y AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                         AS q2
                     FROM ew GROUP BY 1, 2, 3),
             bd AS (SELECT m, k, c, rm,
                      CAST(CAST(m AS DECIMAL(38,0)) * q2
                        - CAST(ts AS DECIMAL(38,0))
                        * CAST(ts AS DECIMAL(38,0)) AS DECIMAL(38,0))
                        AS den
                    FROM blk),
             lb AS (SELECT m, k,
                      ln(CAST(rm AS DOUBLE) / sqrt(CAST(den AS DOUBLE)))
                        AS lnrs
                    FROM bd
                    WHERE c = m
                      AND CAST(den AS DOUBLE) > CAST(0 AS DOUBLE)),
             bys AS (SELECT m, k, CAST(count(*) AS BIGINT) AS n_blocks,
                       CAST(SUM(CAST(lnrs AS DECIMAL(38,12))) AS DOUBLE)
                         / CAST(count(*) AS DOUBLE) AS z
                     FROM lb GROUP BY 1, 2),
             h AS (SELECT round((max(CASE WHEN k = 6 THEN z END)
                       - max(CASE WHEN k = 4 THEN z END))
                     / (CAST(2 AS DOUBLE) * ln(CAST(2 AS DOUBLE))), 6)
                     AS hurst
                   FROM bys)
            SELECT m, n_blocks, round(z, 6) AS mean_ln_rs, hurst
            FROM bys, h ORDER BY m"""))

  /** Spectral entropy — how CONCENTRATED the periodogram is (one
    * number per flag next to q_time_periodogram's full spectrum: ~0 =
    * one dominant cycle, ~1 = white noise; the regularity feature
    * anomaly detectors and forecast-model selectors key on): powers at
    * periods 2..14 via the SAME exact-argument-reduction + scale-6
    * quantized trig carrier the periodogram pins (t mod p keeps libm
    * in its agreeing range; decimal products make the sums
    * engine-identical), then H = −Σ q·ln q / ln K over the normalized
    * spectrum. ln terms ride the Dec12 order-free sum and the finals
    * sit on the 1e-6 output grid (cast-rule doctrine). Zero-power
    * levels contribute zero (stated, the entropy convention); an
    * all-zero spectrum guards to NULL. */
  val qTimeSpectralEntropy = Q(
    "q_time_spectral_entropy",
    (s, dir) => {
      val wRk = Window.partitionBy("flag").orderBy("d")
      val arg = "CAST(2.0 AS DOUBLE) * pi() * CAST(t % p AS DOUBLE) " +
        "/ CAST(p AS DOUBLE)"
      val daily = Det.dailyCents(s, dir, "v")
        .withColumn("t", row_number().over(wRk) - 1)
      val periods = s.range(2, 15).select(col("id").cast(IntegerType).as("p"))
      val pw = daily.crossJoin(broadcast(periods))
        .groupBy("flag", "p")
        .agg(
          sum(expr(s"CAST(v DIV 100 AS DECIMAL(18,0)) " +
            s"* CAST(cos($arg) AS DECIMAL(8,6))")).as("sxd"),
          sum(expr(s"CAST(v DIV 100 AS DECIMAL(18,0)) " +
            s"* CAST(sin($arg) AS DECIMAL(8,6))")).as("syd"))
        .select(col("flag"), col("p"),
          expr("CAST(sxd AS DOUBLE) * CAST(sxd AS DOUBLE)" +
            " + CAST(syd AS DOUBLE) * CAST(syd AS DOUBLE)").as("power"))
      val tot = pw.groupBy("flag")
        .agg(count(lit(1)).as("n_periods"),
          sum(expr("CAST(power AS DECIMAL(38,6))")).cast(DoubleType)
            .as("total_power"))
      pw.join(tot, Seq("flag"))
        .withColumn("term", expr(
          "CASE WHEN total_power = CAST(0 AS DOUBLE)" +
            " OR power = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE)" +
            " ELSE -(power / total_power) * ln(power / total_power) END"))
        .groupBy("flag")
        .agg(max(col("n_periods")).as("n_periods"),
          max(col("total_power")).as("total_power"),
          sum(expr("CAST(term AS DECIMAL(38,12))")).cast(DoubleType)
            .as("h"))
        // total_power's decimal→double cast differs ~2e-16 RELATIVE
        // between engines (hugeint two-rounding) — at 1e14 magnitude
        // that is absolute ~0.1, so the output rides a millions-scale
        // 1e-3 grid; the entropy RATIOS shrink the same wobble to
        // ~1e-15 absolute, far under their 1e-6 grid
        .select(col("flag"), col("n_periods"),
          expr("round(total_power / CAST(1000000 AS DOUBLE), 3)")
            .as("total_power_m"),
          expr("CASE WHEN total_power = CAST(0 AS DOUBLE) THEN NULL" +
            " ELSE round(h, 6) END").as("entropy"),
          expr("CASE WHEN total_power = CAST(0 AS DOUBLE) THEN NULL" +
            " ELSE round(h / ln(CAST(n_periods AS DOUBLE)), 6) END")
            .as("entropy_norm"))
        .orderBy("flag")
    },
    Some(s"""WITH daily AS (
              ${Det.sqlDailyCents("v")}),
             rk AS (SELECT flag, v,
                      row_number() OVER (PARTITION BY flag ORDER BY d) - 1
                        AS t
                    FROM daily),
             pp AS (SELECT CAST(unnest(range(2, 15)) AS INT) AS p),
             f AS (SELECT flag, p,
                     CAST(SUM(CAST(v // 100 AS DECIMAL(24,0))
                       * CAST(cos(CAST(2.0 AS DOUBLE) * pi()
                           * CAST(t % p AS DOUBLE) / CAST(p AS DOUBLE))
                         AS DECIMAL(8,6))) AS DOUBLE) AS sx,
                     CAST(SUM(CAST(v // 100 AS DECIMAL(24,0))
                       * CAST(sin(CAST(2.0 AS DOUBLE) * pi()
                           * CAST(t % p AS DOUBLE) / CAST(p AS DOUBLE))
                         AS DECIMAL(8,6))) AS DOUBLE) AS sy
                   FROM rk CROSS JOIN pp GROUP BY flag, p),
             pw AS (SELECT flag, p, sx * sx + sy * sy AS power FROM f),
             tot AS (SELECT flag, CAST(count(*) AS BIGINT) AS n_periods,
                       CAST(SUM(CAST(power AS DECIMAL(38,6))) AS DOUBLE)
                         AS total_power
                     FROM pw GROUP BY flag),
             trm AS (SELECT pw.flag, n_periods, total_power,
                       CASE WHEN total_power = CAST(0 AS DOUBLE)
                           OR power = CAST(0 AS DOUBLE)
                         THEN CAST(0 AS DOUBLE)
                         ELSE -(power / total_power)
                           * ln(power / total_power) END AS term
                     FROM pw JOIN tot ON pw.flag = tot.flag),
             agg AS (SELECT flag, max(n_periods) AS n_periods,
                       max(total_power) AS total_power,
                       CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE)
                         AS h
                     FROM trm GROUP BY flag)
            SELECT flag, n_periods,
                   round(total_power / CAST(1000000 AS DOUBLE), 3)
                     AS total_power_m,
                   CASE WHEN total_power = CAST(0 AS DOUBLE) THEN NULL
                     ELSE round(h, 6) END AS entropy,
                   CASE WHEN total_power = CAST(0 AS DOUBLE) THEN NULL
                     ELSE round(h / ln(CAST(n_periods AS DOUBLE)), 6) END
                     AS entropy_norm
            FROM agg ORDER BY flag"""))

  /** Theil's U — SCALE-FREE forecast quality (q_time_forecast_eval's
    * MAE/MASE are level-dependent; U2 < 1 is the universal "beats the
    * naive benchmark" certificate a backtest harness gates on): per
    * flag, seasonal-naive (t−7) is scored against naive (t−1) on the
    * SAME eval window (rows where both forecasts exist — the
    * forecast_eval window rule shared), U2 = √(Σ(ŷ−y)²/Σ(y₋₁−y)²)
    * plus U1 = √(Σe²/n)/(√(Σŷ²/n)+√(Σy²/n)) ∈ [0,1]. Every error
    * moment is an exact integer cent square on DECIMAL(38,0) (Granger
    * carrier); the finals are shared sqrt formulas on the 1e-6 output
    * grid. Lags are flag-partitioned over the daily rollup. */
  val qTimeTheilU = Q(
    "q_time_theil_u",
    (s, dir) => {
      val w = Window.partitionBy("flag").orderBy("d")
      val daily = Det.dailyCents(s, dir, "y")
      val lagged = daily
        .withColumn("f7", lag(col("y"), 7).over(w))
        .withColumn("f1", lag(col("y"), 1).over(w))
        .where(col("f7").isNotNull && col("f1").isNotNull)
      val dec2 = (e: String) =>
        s"CAST(CAST($e AS DECIMAL(38,0)) * CAST($e AS DECIMAL(38,0))" +
          s" AS DECIMAL(38,0))"
      lagged.groupBy("flag")
        .agg(count(lit(1)).as("n"),
          sum(expr(dec2("f7 - y"))).as("sse_s"),
          sum(expr(dec2("f1 - y"))).as("sse_n"),
          sum(expr(dec2("f7"))).as("sf2"),
          sum(expr(dec2("y"))).as("sy2"))
        .select(col("flag"), col("n"),
          expr("CASE WHEN sse_n = 0 THEN NULL ELSE" +
            " round(sqrt(CAST(sse_s AS DOUBLE) / CAST(sse_n AS DOUBLE))," +
            " 6) END").as("u2"),
          expr("CASE WHEN sf2 = 0 AND sy2 = 0 THEN NULL ELSE" +
            " round(sqrt(CAST(sse_s AS DOUBLE) / CAST(n AS DOUBLE))" +
            " / (sqrt(CAST(sf2 AS DOUBLE) / CAST(n AS DOUBLE))" +
            " + sqrt(CAST(sy2 AS DOUBLE) / CAST(n AS DOUBLE))), 6) END")
            .as("u1"))
        .orderBy("flag")
    },
    Some(s"""WITH daily AS (${Det.sqlDailyCents("y")}),
             lagged AS (SELECT flag, y,
                      lag(y, 7) OVER (PARTITION BY flag ORDER BY d) AS f7,
                      lag(y, 1) OVER (PARTITION BY flag ORDER BY d) AS f1
                    FROM daily),
             f AS (SELECT * FROM lagged
                   WHERE f7 IS NOT NULL AND f1 IS NOT NULL),
             m AS (SELECT flag, CAST(count(*) AS BIGINT) AS n,
                     sum(CAST(CAST(f7 - y AS DECIMAL(38,0))
                       * CAST(f7 - y AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS sse_s,
                     sum(CAST(CAST(f1 - y AS DECIMAL(38,0))
                       * CAST(f1 - y AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS sse_n,
                     sum(CAST(CAST(f7 AS DECIMAL(38,0))
                       * CAST(f7 AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS sf2,
                     sum(CAST(CAST(y AS DECIMAL(38,0))
                       * CAST(y AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS sy2
                   FROM f GROUP BY flag)
            SELECT flag, n,
                   CASE WHEN sse_n = 0 THEN NULL ELSE
                     round(sqrt(CAST(sse_s AS DOUBLE)
                       / CAST(sse_n AS DOUBLE)), 6) END AS u2,
                   CASE WHEN sf2 = 0 AND sy2 = 0 THEN NULL ELSE
                     round(sqrt(CAST(sse_s AS DOUBLE) / CAST(n AS DOUBLE))
                       / (sqrt(CAST(sf2 AS DOUBLE) / CAST(n AS DOUBLE))
                       + sqrt(CAST(sy2 AS DOUBLE) / CAST(n AS DOUBLE))),
                       6) END AS u1
            FROM m ORDER BY flag"""))

  /** PACF at lags 1–3 via Durbin–Levinson — the AR-ORDER selector
    * (ACF says "correlated at lag k", PACF says "correlated AFTER
    * removing shorter lags" — the cutoff pattern that picks p in
    * AR(p)): global daily revenue, ACF r₁..r₃ with the full-series
    * mean and denominator in the standard biased spelling, every
    * moment n²-scaled to exact integers on DECIMAL(38,0)
    * (n²Σy_t·y_{t+k} − nS(A_k+B_k) + (n−k)S² over n²Σy² − nS²), then
    * the k ≤ 3 Durbin–Levinson recursion unrolled as ONE shared
    * rational formula chain (φ₁₁ = r₁; φ₂₂ = (r₂−r₁²)/(1−r₁²);
    * φ₂₁ = r₁(1−φ₂₂); φ₃₃ = (r₃−φ₂₁r₂−φ₂₂r₁)/(1−φ₂₁r₁−φ₂₂r₂)) — NO
    * transcendental anywhere, so the whole chain is
    * identical-double-exact and needs no output rounding. Degenerate
    * denominators guard to NULL. The triple lag rides the daily rollup
    * (dataset-bounded axis, granger allowlist class). */
  val qTimePacf = Q(
    "q_time_pacf",
    (s, dir) => {
      // $100-unit carrier: the n²-scaled moments cast to double stay
      // < 2^53 through sf1 (hugeint→double two-rounding class); ACF is
      // unit-free so only the deterministic truncation perturbs
      val daily = Det.dailyCents(s, dir, "yc", byFlag = false)
        .withColumn("y", expr("yc div 10000")).drop("yc")
      val w = Window.orderBy("d")
      val lagged = daily
        .withColumn("y1", lag(col("y"), 1).over(w))
        .withColumn("y2", lag(col("y"), 2).over(w))
        .withColumn("y3", lag(col("y"), 3).over(w))
      val dd = (a: String, b: String) =>
        s"CAST(CAST($a AS DECIMAL(38,0)) * CAST($b AS DECIMAL(38,0))" +
          s" AS DECIMAL(38,0))"
      val m = lagged.agg(count(lit(1)).as("n"),
        sum(col("y")).as("s"),
        sum(expr(dd("y", "y"))).as("syy"),
        sum(expr(s"CASE WHEN y1 IS NULL THEN CAST(0 AS DECIMAL(38,0))" +
          s" ELSE ${dd("y", "y1")} END")).as("p1"),
        sum(expr(s"CASE WHEN y2 IS NULL THEN CAST(0 AS DECIMAL(38,0))" +
          s" ELSE ${dd("y", "y2")} END")).as("p2"),
        sum(expr(s"CASE WHEN y3 IS NULL THEN CAST(0 AS DECIMAL(38,0))" +
          s" ELSE ${dd("y", "y3")} END")).as("p3"),
        sum(when(col("y1").isNotNull, col("y")).otherwise(0L)).as("b1"),
        sum(when(col("y2").isNotNull, col("y")).otherwise(0L)).as("b2"),
        sum(when(col("y3").isNotNull, col("y")).otherwise(0L)).as("b3"),
        sum(coalesce(col("y1"), lit(0L))).as("a1"),
        sum(coalesce(col("y2"), lit(0L))).as("a2"),
        sum(coalesce(col("y3"), lit(0L))).as("a3"))
      val rk = (k: Int) =>
        s"CASE WHEN den = CAST(0 AS DOUBLE) THEN NULL ELSE" +
          s" (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)" +
          s" * CAST(p$k AS DOUBLE)" +
          s" - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)" +
          s" * (CAST(a$k AS DOUBLE) + CAST(b$k AS DOUBLE))" +
          s" + CAST(n - $k AS DOUBLE) * CAST(s AS DOUBLE)" +
          s" * CAST(s AS DOUBLE)) / den END"
      m.withColumn("den", expr(
        "CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)" +
          " - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)" +
          " * CAST(s AS DOUBLE)"))
        .withColumn("r1", expr(rk(1)))
        .withColumn("r2", expr(rk(2)))
        .withColumn("r3", expr(rk(3)))
        .withColumn("pacf1", col("r1"))
        .withColumn("pacf2", expr(
          "CASE WHEN CAST(1 AS DOUBLE) - r1 * r1 = CAST(0 AS DOUBLE)" +
            " THEN NULL ELSE (r2 - r1 * r1)" +
            " / (CAST(1 AS DOUBLE) - r1 * r1) END"))
        .withColumn("p21", expr("r1 * (CAST(1 AS DOUBLE) - pacf2)"))
        .withColumn("pacf3", expr(
          "CASE WHEN CAST(1 AS DOUBLE) - p21 * r1 - pacf2 * r2" +
            " = CAST(0 AS DOUBLE) THEN NULL ELSE" +
            " (r3 - p21 * r2 - pacf2 * r1)" +
            " / (CAST(1 AS DOUBLE) - p21 * r1 - pacf2 * r2) END"))
        .select(col("n"), expr("round(r1, 6)").as("r1"),
          expr("round(r2, 6)").as("r2"), expr("round(r3, 6)").as("r3"),
          expr("round(pacf1, 6)").as("pacf1"),
          expr("round(pacf2, 6)").as("pacf2"),
          expr("round(pacf3, 6)").as("pacf3"))
    },
    Some(s"""WITH daily AS (SELECT CAST(l_shipdate AS DATE) AS d,
                    CAST(SUM(${Det.sqlCents("l_extendedprice")}) // 10000
                      AS BIGINT) AS y
                  FROM lineitem GROUP BY 1),
             lagged AS (SELECT y,
                      lag(y, 1) OVER (ORDER BY d) AS y1,
                      lag(y, 2) OVER (ORDER BY d) AS y2,
                      lag(y, 3) OVER (ORDER BY d) AS y3
                    FROM daily),
             m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(y) AS BIGINT) AS s,
                     sum(CAST(CAST(y AS DECIMAL(38,0))
                       * CAST(y AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS syy,
                     sum(CASE WHEN y1 IS NULL THEN CAST(0 AS DECIMAL(38,0))
                       ELSE CAST(CAST(y AS DECIMAL(38,0))
                         * CAST(y1 AS DECIMAL(38,0)) AS DECIMAL(38,0))
                       END) AS p1,
                     sum(CASE WHEN y2 IS NULL THEN CAST(0 AS DECIMAL(38,0))
                       ELSE CAST(CAST(y AS DECIMAL(38,0))
                         * CAST(y2 AS DECIMAL(38,0)) AS DECIMAL(38,0))
                       END) AS p2,
                     sum(CASE WHEN y3 IS NULL THEN CAST(0 AS DECIMAL(38,0))
                       ELSE CAST(CAST(y AS DECIMAL(38,0))
                         * CAST(y3 AS DECIMAL(38,0)) AS DECIMAL(38,0))
                       END) AS p3,
                     CAST(sum(CASE WHEN y1 IS NOT NULL THEN y ELSE 0 END)
                       AS BIGINT) AS b1,
                     CAST(sum(CASE WHEN y2 IS NOT NULL THEN y ELSE 0 END)
                       AS BIGINT) AS b2,
                     CAST(sum(CASE WHEN y3 IS NOT NULL THEN y ELSE 0 END)
                       AS BIGINT) AS b3,
                     CAST(sum(coalesce(y1, 0)) AS BIGINT) AS a1,
                     CAST(sum(coalesce(y2, 0)) AS BIGINT) AS a2,
                     CAST(sum(coalesce(y3, 0)) AS BIGINT) AS a3
                   FROM lagged),
             d0 AS (SELECT *,
                      CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                        * CAST(syy AS DOUBLE)
                        - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)
                        * CAST(s AS DOUBLE) AS den
                    FROM m),
             r AS (SELECT n,
                     CASE WHEN den = CAST(0 AS DOUBLE) THEN NULL ELSE
                       (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                        * CAST(p1 AS DOUBLE)
                        - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)
                        * (CAST(a1 AS DOUBLE) + CAST(b1 AS DOUBLE))
                        + CAST(n - 1 AS DOUBLE) * CAST(s AS DOUBLE)
                        * CAST(s AS DOUBLE)) / den END AS r1,
                     CASE WHEN den = CAST(0 AS DOUBLE) THEN NULL ELSE
                       (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                        * CAST(p2 AS DOUBLE)
                        - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)
                        * (CAST(a2 AS DOUBLE) + CAST(b2 AS DOUBLE))
                        + CAST(n - 2 AS DOUBLE) * CAST(s AS DOUBLE)
                        * CAST(s AS DOUBLE)) / den END AS r2,
                     CASE WHEN den = CAST(0 AS DOUBLE) THEN NULL ELSE
                       (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                        * CAST(p3 AS DOUBLE)
                        - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)
                        * (CAST(a3 AS DOUBLE) + CAST(b3 AS DOUBLE))
                        + CAST(n - 3 AS DOUBLE) * CAST(s AS DOUBLE)
                        * CAST(s AS DOUBLE)) / den END AS r3
                   FROM d0),
             f2 AS (SELECT n, r1, r2, r3, r1 AS pacf1,
                      CASE WHEN CAST(1 AS DOUBLE) - r1 * r1
                          = CAST(0 AS DOUBLE) THEN NULL ELSE
                        (r2 - r1 * r1)
                        / (CAST(1 AS DOUBLE) - r1 * r1) END AS pacf2
                    FROM r),
             f3 AS (SELECT *, r1 * (CAST(1 AS DOUBLE) - pacf2) AS p21
                    FROM f2)
            SELECT n, round(r1, 6) AS r1, round(r2, 6) AS r2,
                   round(r3, 6) AS r3, round(pacf1, 6) AS pacf1,
                   round(pacf2, 6) AS pacf2,
                   round(CASE WHEN CAST(1 AS DOUBLE) - p21 * r1
                       - pacf2 * r2 = CAST(0 AS DOUBLE) THEN NULL ELSE
                     (r3 - p21 * r2 - pacf2 * r1)
                     / (CAST(1 AS DOUBLE) - p21 * r1 - pacf2 * r2) END,
                     6) AS pacf3
            FROM f3"""))

  // a line's discounted price, the y of q_agg_deming/q_agg_concordance;
  // a product, so it goes into the cents rule as is
  private val netPrice =
    "l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)"

  /** Deming regression — method comparison when BOTH variables carry
    * error (OLS assumes an error-free x, so regressing one measurement
    * method on another biases the slope toward 0; Deming's
    * errors-in-variables slope is the standard instrument-agreement
    * fit): x = the order's GROSS lineitem revenue, y = its NET
    * (post-discount) revenue — two measurements of the same order
    * value whose relation is the discount process itself.
    * δ = 1 (equal error variances). All moments are exact integer cent
    * sums/squares on DECIMAL(38,0); the slope
    * β = [Cyy − Cxx + √((Cyy−Cxx)² + 4Cxy²)] / (2Cxy) and intercept
    * ȳ − βx̄ are one shared formula (n-scaled centered moments so no
    * early division), Cxy = 0 guards to NULL, finals ride the 1e-6
    * output grid (big-moment cast-wobble doctrine). Scale: one
    * lineitem rollup co-keyed join to orders + one moment aggregate. */
  val qAggDeming = Q(
    "q_agg_deming",
    (s, dir) => {
      val xy = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("ok"))
        .agg(sum(Det.cents("l_extendedprice")).as("x"),
          sum(Det.cents(netPrice)).as("y"))
      val dd = (a: String, b: String) =>
        s"CAST(CAST($a AS DECIMAL(38,0)) * CAST($b AS DECIMAL(38,0))" +
          s" AS DECIMAL(38,0))"
      xy.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr(dd("x", "x"))).as("sxx"),
        sum(expr(dd("y", "y"))).as("syy"),
        sum(expr(dd("x", "y"))).as("sxy"))
        .select(col("n"),
          expr("CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)" +
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)").as("cxx"),
          expr("CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)" +
            " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)").as("cyy"),
          expr("CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)" +
            " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)").as("cxy"),
          expr("CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)").as("mx"),
          expr("CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)").as("my"))
        .withColumn("slope", expr(
          "CASE WHEN cxy = CAST(0 AS DOUBLE) THEN NULL ELSE" +
            " (cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)" +
            " + CAST(4 AS DOUBLE) * cxy * cxy))" +
            " / (CAST(2 AS DOUBLE) * cxy) END"))
        .select(col("n"), expr("round(slope, 6)").as("slope"),
          expr("round(my - slope * mx, 6)").as("intercept"),
          expr("CASE WHEN cxx = CAST(0 AS DOUBLE)" +
            " OR cyy = CAST(0 AS DOUBLE) THEN NULL ELSE" +
            " round(cxy / sqrt(cxx * cyy), 6) END").as("pearson_r"))
    },
    Some(s"""WITH xy AS (SELECT l_orderkey AS ok,
                    CAST(sum(${Det.sqlCents("l_extendedprice")}) AS BIGINT)
                      AS x,
                    CAST(sum(${Det.sqlCents(netPrice)}) AS BIGINT) AS y
                  FROM lineitem GROUP BY 1),
             m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     sum(CAST(CAST(x AS DECIMAL(38,0))
                       * CAST(x AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS sxx,
                     sum(CAST(CAST(y AS DECIMAL(38,0))
                       * CAST(y AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS syy,
                     sum(CAST(CAST(x AS DECIMAL(38,0))
                       * CAST(y AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS sxy
                   FROM xy),
             c AS (SELECT n,
                     CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS cxx,
                     CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS cyy,
                     CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy,
                     CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx,
                     CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS my
                   FROM m),
             sl AS (SELECT *,
                      CASE WHEN cxy = CAST(0 AS DOUBLE) THEN NULL ELSE
                        (cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
                          + CAST(4 AS DOUBLE) * cxy * cxy))
                        / (CAST(2 AS DOUBLE) * cxy) END AS slope
                    FROM c)
            SELECT n, round(slope, 6) AS slope,
                   round(my - slope * mx, 6) AS intercept,
                   CASE WHEN cxx = CAST(0 AS DOUBLE)
                       OR cyy = CAST(0 AS DOUBLE) THEN NULL ELSE
                     round(cxy / sqrt(cxx * cyy), 6) END AS pearson_r
            FROM sl"""))

  /** Lin's concordance correlation + Bland–Altman limits of
    * agreement — the two standard "do two measurements AGREE" readouts
    * (Pearson r rewards any linear relation; CCC penalizes slope≠1 and
    * offset≠0; Bland–Altman reports the absolute error band users
    * actually feel) on the same gross/net measurement pair as
    * q_agg_deming:
    * ρc = 2nCxy / (n(Cxx+Cyy) + (Sx−Sy)²) — the n-scaled spelling
    * keeps numerator and denominator exact integers until ONE
    * division — and LoA = d̄ ± 1.96·sd(d) with d = x−y carried as its
    * own exact moment pair. A second broadcast pass censuses the rows
    * outside the LoA band (the honesty check on the normality
    * assumption: ~5% expected). Finals on the 1e-6 grid. */
  val qAggConcordance = Q(
    "q_agg_concordance",
    (s, dir) => {
      val xy = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("ok"))
        .agg(sum(Det.cents("l_extendedprice")).as("x"),
          sum(Det.cents(netPrice)).as("y"))
        .withColumn("diff", col("x") - col("y"))
      val dd = (a: String, b: String) =>
        s"CAST(CAST($a AS DECIMAL(38,0)) * CAST($b AS DECIMAL(38,0))" +
          s" AS DECIMAL(38,0))"
      val m = xy.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(expr(dd("x", "x"))).as("sxx"),
        sum(expr(dd("y", "y"))).as("syy"),
        sum(expr(dd("x", "y"))).as("sxy"),
        sum(col("diff")).as("sd1"),
        sum(expr(dd("diff", "diff"))).as("sd2"))
        .withColumn("ccc", expr(
          "CASE WHEN CAST(n AS DOUBLE) * (CAST(sxx AS DOUBLE)" +
            " + CAST(syy AS DOUBLE))" +
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)" +
            " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)" +
            " + (CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE))" +
            " * (CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE))" +
            " = CAST(0 AS DOUBLE) THEN NULL ELSE" +
            " CAST(2 AS DOUBLE) * (CAST(n AS DOUBLE)" +
            " * CAST(sxy AS DOUBLE)" +
            " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
            " / (CAST(n AS DOUBLE) * (CAST(sxx AS DOUBLE)" +
            " + CAST(syy AS DOUBLE))" +
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)" +
            " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)" +
            " + (CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE))" +
            " * (CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE))) END"))
        .withColumn("dbar",
          expr("CAST(sd1 AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("sdd", expr(
          "sqrt((CAST(n AS DOUBLE) * CAST(sd2 AS DOUBLE)" +
            " - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE))" +
            " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))"))
        .withColumn("loa_lo",
          expr("dbar - CAST(1.96 AS DOUBLE) * sdd"))
        .withColumn("loa_hi",
          expr("dbar + CAST(1.96 AS DOUBLE) * sdd"))
      val outside = xy.crossJoin(broadcast(
        m.select("loa_lo", "loa_hi")))
        .agg(sum(when(col("diff").cast(DoubleType) < col("loa_lo")
          || col("diff").cast(DoubleType) > col("loa_hi"), 1L)
          .otherwise(0L)).as("n_outside"))
      m.crossJoin(broadcast(outside))
        .select(col("n"), expr("round(ccc, 6)").as("ccc"),
          expr("round(dbar, 6)").as("mean_diff"),
          expr("round(sdd, 6)").as("sd_diff"),
          expr("round(loa_lo, 6)").as("loa_lo"),
          expr("round(loa_hi, 6)").as("loa_hi"),
          col("n_outside"))
    },
    Some(s"""WITH xy AS (SELECT l_orderkey AS ok,
                    CAST(sum(${Det.sqlCents("l_extendedprice")}) AS BIGINT)
                      AS x,
                    CAST(sum(${Det.sqlCents(netPrice)}) AS BIGINT) AS y,
                    CAST(sum(${Det.sqlCents("l_extendedprice")}) -
                      sum(${Det.sqlCents(netPrice)}) AS BIGINT)
                      AS diff
                  FROM lineitem GROUP BY 1),
             m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy,
                     sum(CAST(CAST(x AS DECIMAL(38,0))
                       * CAST(x AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS sxx,
                     sum(CAST(CAST(y AS DECIMAL(38,0))
                       * CAST(y AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS syy,
                     sum(CAST(CAST(x AS DECIMAL(38,0))
                       * CAST(y AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS sxy,
                     CAST(sum(diff) AS BIGINT) AS sd1,
                     sum(CAST(CAST(diff AS DECIMAL(38,0))
                       * CAST(diff AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS sd2
                   FROM xy),
             c AS (SELECT n,
                     CASE WHEN CAST(n AS DOUBLE) * (CAST(sxx AS DOUBLE)
                         + CAST(syy AS DOUBLE))
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                         + (CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE))
                         * (CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE))
                         = CAST(0 AS DOUBLE) THEN NULL ELSE
                       CAST(2 AS DOUBLE) * (CAST(n AS DOUBLE)
                         * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (CAST(n AS DOUBLE) * (CAST(sxx AS DOUBLE)
                         + CAST(syy AS DOUBLE))
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                         + (CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE))
                         * (CAST(sx AS DOUBLE) - CAST(sy AS DOUBLE)))
                       END AS ccc,
                     CAST(sd1 AS DOUBLE) / CAST(n AS DOUBLE) AS dbar,
                     sqrt((CAST(n AS DOUBLE) * CAST(sd2 AS DOUBLE)
                       - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))
                       AS sdd
                   FROM m),
             loa AS (SELECT *,
                       dbar - CAST(1.96 AS DOUBLE) * sdd AS loa_lo,
                       dbar + CAST(1.96 AS DOUBLE) * sdd AS loa_hi
                     FROM c),
             o AS (SELECT CAST(sum(CASE WHEN CAST(diff AS DOUBLE) < loa_lo
                       OR CAST(diff AS DOUBLE) > loa_hi THEN 1 ELSE 0
                       END) AS BIGINT) AS n_outside
                   FROM xy, loa)
            SELECT n, round(ccc, 6) AS ccc, round(dbar, 6) AS mean_diff,
                   round(sdd, 6) AS sd_diff, round(loa_lo, 6) AS loa_lo,
                   round(loa_hi, 6) AS loa_hi, n_outside
            FROM loa, o"""))

  /** Intraclass correlation ICC(1,1) — "how much of the variance is
    * BETWEEN groups" (the mixed-model / repeated-measures reliability
    * number; also exactly the cluster-sampling design-effect input):
    * one-way ANOVA of order cents across the 25 nations with the
    * unbalanced-design n₀ = (N − Σn_g²/N)/(k−1), MSB/MSW from exact
    * integer moments (Σ_g S_g²/n_g rides a per-group one-division
    * double, Dec12 order-free across the 25 bounded groups), ICC =
    * (MSB − MSW)/(MSB + (n₀−1)MSW). Degenerate guards (k ≤ 1, N ≤ k,
    * zero denominator) → NULL; finals on the 1e-6 grid. Scale: one
    * orders⋈customer shuffle + a 25-row group aggregate. */
  val qAggIcc = Q(
    "q_agg_icc",
    (s, dir) => {
      val g = Tables.orders(s, dir)
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("grp"))
        .agg(count(lit(1)).as("ng"), sum(Det.cents("o_totalprice")).as("sg"),
          sum(expr(s"CAST(CAST(${Det.sqlCents("o_totalprice")}" +
            s" AS DECIMAL(38,0)) * CAST(${Det.sqlCents("o_totalprice")}" +
            " AS DECIMAL(38,0)) AS DECIMAL(38,0))"))
            .as("qg"))
      // sg²/ng in double over identical operands, Dec12-quantized
      // before the bounded 25-group sum — the q_agg_anova doctrine
      val a = g.agg(count(lit(1)).as("k"),
        sum(col("ng")).as("nn"), sum(col("sg")).as("ss"),
        sum(col("qg")).as("qq"),
        sum(col("ng") * col("ng")).as("n2"),
        sum(expr("CAST(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)" +
          " / CAST(ng AS DOUBLE) AS DECIMAL(38,12))")).as("sb_raw"))
      a.select(col("k"), col("nn"),
        expr("CAST(sb_raw AS DOUBLE)" +
          " - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)" +
          " / CAST(nn AS DOUBLE)").as("ssb"),
        expr("CAST(qq AS DOUBLE) - CAST(sb_raw AS DOUBLE)").as("ssw"),
        expr("(CAST(nn AS DOUBLE) - CAST(n2 AS DOUBLE)" +
          " / CAST(nn AS DOUBLE)) / CAST(k - 1 AS DOUBLE)").as("n0"))
        .withColumn("msb", expr("ssb / CAST(k - 1 AS DOUBLE)"))
        .withColumn("msw", expr("ssw / CAST(nn - k AS DOUBLE)"))
        // msb/msw are ~1e14 cent² — the decimal→double cast wobbles
        // ~2e-16 RELATIVE, so the raw values ride a millions-scale
        // 1e-3 grid (spectral-entropy doctrine); icc is a ratio
        .select(col("k"), col("nn"), expr("round(n0, 6)").as("n0"),
          expr("round(msb / CAST(1000000 AS DOUBLE), 3)").as("msb_m"),
          expr("round(msw / CAST(1000000 AS DOUBLE), 3)").as("msw_m"),
          expr("CASE WHEN msb + (n0 - CAST(1 AS DOUBLE)) * msw" +
            " = CAST(0 AS DOUBLE) THEN NULL ELSE" +
            " round((msb - msw) / (msb + (n0 - CAST(1 AS DOUBLE))" +
            " * msw), 6) END").as("icc"))
    },
    Some(s"""WITH x AS (SELECT c_nationkey AS grp,
                    ${Det.sqlCents("o_totalprice")} AS v
                  FROM orders JOIN customer ON o_custkey = c_custkey),
             g AS (SELECT grp, CAST(count(*) AS BIGINT) AS ng,
                     CAST(sum(v) AS BIGINT) AS sg,
                     sum(CAST(CAST(v AS DECIMAL(38,0))
                       * CAST(v AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS qg
                   FROM x GROUP BY grp),
             a AS (SELECT CAST(count(*) AS BIGINT) AS k,
                     CAST(sum(ng) AS BIGINT) AS nn,
                     CAST(sum(sg) AS BIGINT) AS ss,
                     sum(qg) AS qq,
                     CAST(sum(ng * ng) AS BIGINT) AS n2,
                     sum(CAST(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
                       / CAST(ng AS DOUBLE) AS DECIMAL(38,12))) AS sb_raw
                   FROM g),
             c AS (SELECT k, nn,
                     CAST(sb_raw AS DOUBLE)
                       - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)
                       / CAST(nn AS DOUBLE) AS ssb,
                     CAST(qq AS DOUBLE) - CAST(sb_raw AS DOUBLE) AS ssw,
                     (CAST(nn AS DOUBLE) - CAST(n2 AS DOUBLE)
                       / CAST(nn AS DOUBLE)) / CAST(k - 1 AS DOUBLE)
                       AS n0
                   FROM a),
             ms AS (SELECT k, nn, n0,
                      ssb / CAST(k - 1 AS DOUBLE) AS msb,
                      ssw / CAST(nn - k AS DOUBLE) AS msw
                    FROM c)
            SELECT k, nn, round(n0, 6) AS n0,
                   round(msb / CAST(1000000 AS DOUBLE), 3) AS msb_m,
                   round(msw / CAST(1000000 AS DOUBLE), 3) AS msw_m,
                   CASE WHEN msb + (n0 - CAST(1 AS DOUBLE)) * msw
                       = CAST(0 AS DOUBLE) THEN NULL ELSE
                     round((msb - msw) / (msb + (n0 - CAST(1 AS DOUBLE))
                       * msw), 6) END AS icc
            FROM ms"""))

  /** Ljung–Box portmanteau test — "is there ANY autocorrelation left"
    * (the residual-whiteness gate every fitted forecast model must
    * pass; q_time_pacf reads individual lags, Ljung–Box pools them
    * into one χ²(h) statistic): Q = n(n+2)·Σ_{k≤3} r_k²/(n−k) on the
    * same n²-scaled exact-integer ACF moments as q_time_pacf (same
    * $100-unit carrier, same biased-denominator spelling), one shared
    * rational formula — no transcendental, outputs on the 1e-6 grid.
    * Scale: one triple-lag pass over the dataset-bounded daily axis. */
  val qTimeLjungBox = Q(
    "q_time_ljung_box",
    (s, dir) => {
      val daily = Det.dailyCents(s, dir, "yc", byFlag = false)
        .withColumn("y", expr("yc div 10000")).drop("yc")
      val w = Window.orderBy("d")
      val lagged = daily
        .withColumn("y1", lag(col("y"), 1).over(w))
        .withColumn("y2", lag(col("y"), 2).over(w))
        .withColumn("y3", lag(col("y"), 3).over(w))
      val dd = (a: String, b: String) =>
        s"CAST(CAST($a AS DECIMAL(38,0)) * CAST($b AS DECIMAL(38,0))" +
          s" AS DECIMAL(38,0))"
      val m = lagged.agg(count(lit(1)).as("n"),
        sum(col("y")).as("s"),
        sum(expr(dd("y", "y"))).as("syy"),
        sum(expr(s"CASE WHEN y1 IS NULL THEN CAST(0 AS DECIMAL(38,0))" +
          s" ELSE ${dd("y", "y1")} END")).as("p1"),
        sum(expr(s"CASE WHEN y2 IS NULL THEN CAST(0 AS DECIMAL(38,0))" +
          s" ELSE ${dd("y", "y2")} END")).as("p2"),
        sum(expr(s"CASE WHEN y3 IS NULL THEN CAST(0 AS DECIMAL(38,0))" +
          s" ELSE ${dd("y", "y3")} END")).as("p3"),
        sum(when(col("y1").isNotNull, col("y")).otherwise(0L)).as("b1"),
        sum(when(col("y2").isNotNull, col("y")).otherwise(0L)).as("b2"),
        sum(when(col("y3").isNotNull, col("y")).otherwise(0L)).as("b3"),
        sum(coalesce(col("y1"), lit(0L))).as("a1"),
        sum(coalesce(col("y2"), lit(0L))).as("a2"),
        sum(coalesce(col("y3"), lit(0L))).as("a3"))
      val rk = (k: Int) =>
        s"CASE WHEN den = CAST(0 AS DOUBLE) THEN NULL ELSE" +
          s" (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)" +
          s" * CAST(p$k AS DOUBLE)" +
          s" - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)" +
          s" * (CAST(a$k AS DOUBLE) + CAST(b$k AS DOUBLE))" +
          s" + CAST(n - $k AS DOUBLE) * CAST(s AS DOUBLE)" +
          s" * CAST(s AS DOUBLE)) / den END"
      m.withColumn("den", expr(
        "CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)" +
          " - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)" +
          " * CAST(s AS DOUBLE)"))
        .withColumn("r1", expr(rk(1)))
        .withColumn("r2", expr(rk(2)))
        .withColumn("r3", expr(rk(3)))
        .select(col("n"), expr("round(r1, 6)").as("r1"),
          expr("round(r2, 6)").as("r2"), expr("round(r3, 6)").as("r3"),
          expr("CASE WHEN n <= 3 THEN NULL ELSE" +
            " round(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE)" +
            " * (r1 * r1 / CAST(n - 1 AS DOUBLE)" +
            " + r2 * r2 / CAST(n - 2 AS DOUBLE)" +
            " + r3 * r3 / CAST(n - 3 AS DOUBLE)), 6) END").as("q_stat"))
    },
    Some(s"""WITH daily AS (SELECT CAST(l_shipdate AS DATE) AS d,
                    CAST(SUM(${Det.sqlCents("l_extendedprice")}) // 10000
                      AS BIGINT) AS y
                  FROM lineitem GROUP BY 1),
             lagged AS (SELECT y,
                      lag(y, 1) OVER (ORDER BY d) AS y1,
                      lag(y, 2) OVER (ORDER BY d) AS y2,
                      lag(y, 3) OVER (ORDER BY d) AS y3
                    FROM daily),
             m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(y) AS BIGINT) AS s,
                     sum(CAST(CAST(y AS DECIMAL(38,0))
                       * CAST(y AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS syy,
                     sum(CASE WHEN y1 IS NULL THEN CAST(0 AS DECIMAL(38,0))
                       ELSE CAST(CAST(y AS DECIMAL(38,0))
                         * CAST(y1 AS DECIMAL(38,0)) AS DECIMAL(38,0))
                       END) AS p1,
                     sum(CASE WHEN y2 IS NULL THEN CAST(0 AS DECIMAL(38,0))
                       ELSE CAST(CAST(y AS DECIMAL(38,0))
                         * CAST(y2 AS DECIMAL(38,0)) AS DECIMAL(38,0))
                       END) AS p2,
                     sum(CASE WHEN y3 IS NULL THEN CAST(0 AS DECIMAL(38,0))
                       ELSE CAST(CAST(y AS DECIMAL(38,0))
                         * CAST(y3 AS DECIMAL(38,0)) AS DECIMAL(38,0))
                       END) AS p3,
                     CAST(sum(CASE WHEN y1 IS NOT NULL THEN y ELSE 0 END)
                       AS BIGINT) AS b1,
                     CAST(sum(CASE WHEN y2 IS NOT NULL THEN y ELSE 0 END)
                       AS BIGINT) AS b2,
                     CAST(sum(CASE WHEN y3 IS NOT NULL THEN y ELSE 0 END)
                       AS BIGINT) AS b3,
                     CAST(sum(coalesce(y1, 0)) AS BIGINT) AS a1,
                     CAST(sum(coalesce(y2, 0)) AS BIGINT) AS a2,
                     CAST(sum(coalesce(y3, 0)) AS BIGINT) AS a3
                   FROM lagged),
             d0 AS (SELECT *,
                      CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                        * CAST(syy AS DOUBLE)
                        - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)
                        * CAST(s AS DOUBLE) AS den
                    FROM m),
             r AS (SELECT n,
                     CASE WHEN den = CAST(0 AS DOUBLE) THEN NULL ELSE
                       (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                        * CAST(p1 AS DOUBLE)
                        - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)
                        * (CAST(a1 AS DOUBLE) + CAST(b1 AS DOUBLE))
                        + CAST(n - 1 AS DOUBLE) * CAST(s AS DOUBLE)
                        * CAST(s AS DOUBLE)) / den END AS r1,
                     CASE WHEN den = CAST(0 AS DOUBLE) THEN NULL ELSE
                       (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                        * CAST(p2 AS DOUBLE)
                        - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)
                        * (CAST(a2 AS DOUBLE) + CAST(b2 AS DOUBLE))
                        + CAST(n - 2 AS DOUBLE) * CAST(s AS DOUBLE)
                        * CAST(s AS DOUBLE)) / den END AS r2,
                     CASE WHEN den = CAST(0 AS DOUBLE) THEN NULL ELSE
                       (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                        * CAST(p3 AS DOUBLE)
                        - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)
                        * (CAST(a3 AS DOUBLE) + CAST(b3 AS DOUBLE))
                        + CAST(n - 3 AS DOUBLE) * CAST(s AS DOUBLE)
                        * CAST(s AS DOUBLE)) / den END AS r3
                   FROM d0)
            SELECT n, round(r1, 6) AS r1, round(r2, 6) AS r2,
                   round(r3, 6) AS r3,
                   CASE WHEN n <= 3 THEN NULL ELSE
                     round(CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE)
                       * (r1 * r1 / CAST(n - 1 AS DOUBLE)
                       + r2 * r2 / CAST(n - 2 AS DOUBLE)
                       + r3 * r3 / CAST(n - 3 AS DOUBLE)), 6) END
                     AS q_stat
            FROM r"""))

  /** Durbin–Watson on detrended daily revenue — the REGRESSION-residual
    * autocorrelation gate (Ljung–Box asks about the raw series; DW asks
    * whether the residuals of a FIT still carry lag-1 structure — the
    * classic "your OLS standard errors are lies" detector, DW≈2 clean,
    * →0 positive, →4 negative): OLS y ~ t on the day index, and both
    * DW sums collapse to CLOSED FORMS over one pass — the residual
    * first-difference is e_t − e_{t−1} = Δy_t − b (the trend term
    * telescopes), so the numerator is ΣΔy² − 2b·(y_n−y_1) + (n−1)b²
    * (and y_n−y_1 = ΣΔy by telescoping — no first/last lookup), while
    * SSE = Syy − b·Sty from the standard moments. All moments
    * integer-exact on the $100-unit carrier; one shared rational
    * formula, 1e-6 output grid. The day index rides the dataset-bounded
    * daily rollup (granger allowlist class). */
  val qTimeDurbinWatson = Q(
    "q_time_durbin_watson",
    (s, dir) => {
      val daily = Det.dailyCents(s, dir, "yc", byFlag = false)
        .withColumn("y", expr("yc div 10000")).drop("yc")
        .withColumn("t",
          (row_number().over(Window.orderBy("d")) - 1).cast("long"))
        .withColumn("dy", col("y") - lag(col("y"), 1)
          .over(Window.orderBy("d")))
      val dd = (a: String, b: String) =>
        s"CAST(CAST($a AS DECIMAL(38,0)) * CAST($b AS DECIMAL(38,0))" +
          s" AS DECIMAL(38,0))"
      daily.agg(count(lit(1)).as("n"),
        sum(col("t")).as("st"), sum(col("y")).as("sy"),
        sum(expr(dd("t", "t"))).as("stt"),
        sum(expr(dd("t", "y"))).as("sty"),
        sum(expr(dd("y", "y"))).as("syy"),
        sum(coalesce(col("dy"), lit(0L))).as("sdy"),
        sum(expr(s"CASE WHEN dy IS NULL THEN CAST(0 AS DECIMAL(38,0))" +
          s" ELSE ${dd("dy", "dy")} END")).as("sdy2"))
        .select(col("n"),
          expr("CAST(stt AS DOUBLE) - CAST(st AS DOUBLE)" +
            " * CAST(st AS DOUBLE) / CAST(n AS DOUBLE)").as("ctt"),
          expr("CAST(sty AS DOUBLE) - CAST(st AS DOUBLE)" +
            " * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)").as("cty"),
          expr("CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)" +
            " * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)").as("cyy"),
          col("sdy"), col("sdy2"))
        .withColumn("b", expr(
          "CASE WHEN ctt = CAST(0 AS DOUBLE) THEN NULL" +
            " ELSE cty / ctt END"))
        .withColumn("sse", expr("cyy - b * cty"))
        .withColumn("num", expr(
          "CAST(sdy2 AS DOUBLE)" +
            " - CAST(2 AS DOUBLE) * b * CAST(sdy AS DOUBLE)" +
            " + CAST(n - 1 AS DOUBLE) * b * b"))
        .select(col("n"), expr("round(b, 6)").as("slope"),
          expr("CASE WHEN sse <= CAST(0 AS DOUBLE) THEN NULL" +
            " ELSE round(num / sse, 6) END").as("dw"))
    },
    Some(s"""WITH daily AS (SELECT CAST(l_shipdate AS DATE) AS d,
                    CAST(SUM(${Det.sqlCents("l_extendedprice")}) // 10000
                      AS BIGINT) AS y
                  FROM lineitem GROUP BY 1),
             idx AS (SELECT y,
                       CAST(row_number() OVER (ORDER BY d) - 1 AS BIGINT)
                         AS t,
                       y - lag(y, 1) OVER (ORDER BY d) AS dy
                     FROM daily),
             m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(t) AS BIGINT) AS st,
                     CAST(sum(y) AS BIGINT) AS sy,
                     sum(CAST(CAST(t AS DECIMAL(38,0))
                       * CAST(t AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS stt,
                     sum(CAST(CAST(t AS DECIMAL(38,0))
                       * CAST(y AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS sty,
                     sum(CAST(CAST(y AS DECIMAL(38,0))
                       * CAST(y AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS syy,
                     CAST(sum(coalesce(dy, 0)) AS BIGINT) AS sdy,
                     sum(CASE WHEN dy IS NULL THEN CAST(0 AS DECIMAL(38,0))
                       ELSE CAST(CAST(dy AS DECIMAL(38,0))
                         * CAST(dy AS DECIMAL(38,0)) AS DECIMAL(38,0))
                       END) AS sdy2
                   FROM idx),
             c AS (SELECT n, sdy, sdy2,
                     CAST(stt AS DOUBLE) - CAST(st AS DOUBLE)
                       * CAST(st AS DOUBLE) / CAST(n AS DOUBLE) AS ctt,
                     CAST(sty AS DOUBLE) - CAST(st AS DOUBLE)
                       * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cty,
                     CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                       * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cyy
                   FROM m),
             f AS (SELECT n, sdy, sdy2, cty, cyy,
                     CASE WHEN ctt = CAST(0 AS DOUBLE) THEN NULL
                       ELSE cty / ctt END AS b
                   FROM c),
             g AS (SELECT n, b, cyy - b * cty AS sse,
                     CAST(sdy2 AS DOUBLE)
                       - CAST(2 AS DOUBLE) * b * CAST(sdy AS DOUBLE)
                       + CAST(n - 1 AS DOUBLE) * b * b AS num
                   FROM f)
            SELECT n, round(b, 6) AS slope,
                   CASE WHEN sse <= CAST(0 AS DOUBLE) THEN NULL
                     ELSE round(num / sse, 6) END AS dw
            FROM g"""))

  /** X̄/R control chart (Shewhart) — the SPC member of the anomaly
    * family (ESD/IQR/Hampel flag points against a GLOBAL fit; a control
    * chart monitors a PROCESS through fixed-size subgroup means and
    * ranges against ±A₂R̄ limits — the manufacturing/SLO-monitoring
    * convention): subgroups are each ship-day's first 5 lineitems in
    * the (orderkey, linenumber) total order (fixed n = 5, partial days
    * drop — stated), X̄ chart limits X̿ ± A₂R̄ and R chart limits
    * [D₃R̄, D₄R̄] with the standard n=5 constants (A₂ = 0.577,
    * D₃ = 0, D₄ = 2.114) as shared literals. Quantity subgroup sums
    * are exact integers; means/ranges are one division each; the
    * out-of-control census is integer counting against shared-double
    * fences. Finals on the 1e-6 grid. Scale: the subgroup window is
    * day-partitioned (≤rows-per-day), rollups bounded by the day axis. */
  val qQcXbarR = Q(
    "q_qc_xbar_r",
    (s, dir) => {
      val w = Window.partitionBy("d")
        .orderBy("l_orderkey", "l_linenumber")
      val sub = Tables.lineitem(s, dir)
        .select(to_date(col("l_shipdate")).as("d"),
          col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("long").as("q"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .groupBy("d")
        .agg(count(lit(1)).as("c"), sum(col("q")).as("sq"),
          max(col("q")).as("mx"), min(col("q")).as("mn"))
        .where(col("c") === 5)
        .select(col("d"),
          expr("CAST(sq AS DOUBLE) / CAST(5 AS DOUBLE)").as("xbar"),
          (col("mx") - col("mn")).as("r"))
      val lim = sub.agg(count(lit(1)).as("n_days"),
        sum(expr("CAST(xbar AS DECIMAL(38,12))")).cast(DoubleType)
          .as("sx"),
        sum(col("r")).as("sr"))
        .select(col("n_days"),
          expr("sx / CAST(n_days AS DOUBLE)").as("xgrand"),
          expr("CAST(sr AS DOUBLE) / CAST(n_days AS DOUBLE)").as("rbar"))
        .withColumn("ucl_x",
          expr("xgrand + CAST(0.577 AS DOUBLE) * rbar"))
        .withColumn("lcl_x",
          expr("xgrand - CAST(0.577 AS DOUBLE) * rbar"))
        .withColumn("ucl_r", expr("CAST(2.114 AS DOUBLE) * rbar"))
      val ooc = sub.crossJoin(broadcast(lim))
        .agg(sum(when(col("xbar") > col("ucl_x")
          || col("xbar") < col("lcl_x"), 1L).otherwise(0L))
          .as("n_ooc_x"),
          sum(when(col("r").cast(DoubleType) > col("ucl_r"), 1L)
            .otherwise(0L)).as("n_ooc_r"))
      lim.crossJoin(broadcast(ooc))
        .select(col("n_days"), expr("round(xgrand, 6)").as("xbar_grand"),
          expr("round(rbar, 6)").as("rbar"),
          expr("round(ucl_x, 6)").as("ucl_x"),
          expr("round(lcl_x, 6)").as("lcl_x"),
          expr("round(ucl_r, 6)").as("ucl_r"),
          col("n_ooc_x"), col("n_ooc_r"))
    },
    Some("""WITH sub0 AS (SELECT CAST(l_shipdate AS DATE) AS d,
                    CAST(l_quantity AS BIGINT) AS q,
                    row_number() OVER (PARTITION BY CAST(l_shipdate AS DATE)
                      ORDER BY l_orderkey, l_linenumber) AS rn
                  FROM lineitem),
             sub AS (SELECT d,
                       CAST(sum(q) AS DOUBLE) / CAST(5 AS DOUBLE) AS xbar,
                       CAST(max(q) - min(q) AS BIGINT) AS r
                     FROM sub0 WHERE rn <= 5 GROUP BY d
                     HAVING count(*) = 5),
             lim AS (SELECT CAST(count(*) AS BIGINT) AS n_days,
                       CAST(SUM(CAST(xbar AS DECIMAL(38,12))) AS DOUBLE)
                         / CAST(count(*) AS DOUBLE) AS xgrand,
                       CAST(sum(r) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                         AS rbar
                     FROM sub),
             lm2 AS (SELECT *,
                       xgrand + CAST(0.577 AS DOUBLE) * rbar AS ucl_x,
                       xgrand - CAST(0.577 AS DOUBLE) * rbar AS lcl_x,
                       CAST(2.114 AS DOUBLE) * rbar AS ucl_r
                     FROM lim),
             ooc AS (SELECT
                       CAST(sum(CASE WHEN xbar > ucl_x OR xbar < lcl_x
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_ooc_x,
                       CAST(sum(CASE WHEN CAST(r AS DOUBLE) > ucl_r
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_ooc_r
                     FROM sub, lm2)
            SELECT n_days, round(xgrand, 6) AS xbar_grand,
                   round(rbar, 6) AS rbar, round(ucl_x, 6) AS ucl_x,
                   round(lcl_x, 6) AS lcl_x, round(ucl_r, 6) AS ucl_r,
                   n_ooc_x, n_ooc_r
            FROM lm2, ooc"""))

  /** TOST equivalence test — the test for "these two groups are the
    * SAME" (a non-significant t-test is NOT evidence of equivalence —
    * absence of evidence; TOST inverts the burden: reject "differs by
    * more than ±δ" with two one-sided tests): returnflag R vs N on
    * extendedprice cents, margin δ = 0.5% of the pooled mean (a stated
    * deterministic rule), Welch SE from the exact DECIMAL(38,0)
    * moments, t_lower = (Δ+δ)/se, t_upper = (δ−Δ)/se, equivalence
    * declared when min > 1.645 (the large-n z convention, stated).
    * One scan, 2-row aggregate, shared rational finals on the 1e-6
    * grid. */
  val qAbTost = Q(
    "q_ab_tost",
    (s, dir) => {
      val dd = (e: String) =>
        s"CAST(CAST($e AS DECIMAL(38,0)) * CAST($e AS DECIMAL(38,0))" +
          s" AS DECIMAL(38,0))"
      val m = Tables.lineitem(s, dir)
        .where(col("l_returnflag").isin("R", "N"))
        .select(col("l_returnflag").as("g"),
          Det.cents("l_extendedprice").as("v"))
        .groupBy("g")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
          sum(expr(dd("v"))).as("ss"))
      val p = m.agg(
        max(when(col("g") === "R", col("n"))).as("n1"),
        max(when(col("g") === "R", col("s"))).as("s1"),
        max(when(col("g") === "R", col("ss"))).as("ss1"),
        max(when(col("g") === "N", col("n"))).as("n2"),
        max(when(col("g") === "N", col("s"))).as("s2"),
        max(when(col("g") === "N", col("ss"))).as("ss2"))
      p.select(col("n1"), col("n2"),
        expr("CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)" +
          " - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE)").as("diff"),
        expr("(CAST(s1 AS DOUBLE) + CAST(s2 AS DOUBLE))" +
          " / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))" +
          " * CAST(0.005 AS DOUBLE)").as("delta"),
        expr("sqrt((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE)" +
          " * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))" +
          " / (CAST(n1 - 1 AS DOUBLE) * CAST(n1 AS DOUBLE))" +
          " + (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE)" +
          " * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))" +
          " / (CAST(n2 - 1 AS DOUBLE) * CAST(n2 AS DOUBLE)))")
          .as("se"))
        .withColumn("t_lower", expr("(diff + delta) / se"))
        .withColumn("t_upper", expr("(delta - diff) / se"))
        .select(col("n1"), col("n2"), expr("round(diff, 6)").as("diff"),
          expr("round(delta, 6)").as("delta"),
          expr("round(se, 6)").as("se"),
          expr("round(t_lower, 6)").as("t_lower"),
          expr("round(t_upper, 6)").as("t_upper"),
          expr("CAST(CASE WHEN least(t_lower, t_upper)" +
            " > CAST(1.645 AS DOUBLE) THEN 1 ELSE 0 END AS INT)")
            .as("equivalent"))
    },
    Some(s"""WITH m AS (SELECT l_returnflag AS g,
                    CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(${Det.sqlCents("l_extendedprice")}) AS BIGINT)
                      AS s,
                    sum(CAST(CAST(${Det.sqlCents("l_extendedprice")}
                      AS DECIMAL(38,0))
                      * CAST(${Det.sqlCents("l_extendedprice")}
                        AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                      AS ss
                  FROM lineitem WHERE l_returnflag IN ('R', 'N')
                  GROUP BY 1),
             p AS (SELECT
                     max(CASE WHEN g = 'R' THEN n END) AS n1,
                     max(CASE WHEN g = 'R' THEN s END) AS s1,
                     max(CASE WHEN g = 'R' THEN ss END) AS ss1,
                     max(CASE WHEN g = 'N' THEN n END) AS n2,
                     max(CASE WHEN g = 'N' THEN s END) AS s2,
                     max(CASE WHEN g = 'N' THEN ss END) AS ss2
                   FROM m),
             c AS (SELECT n1, n2,
                     CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                       - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS diff,
                     (CAST(s1 AS DOUBLE) + CAST(s2 AS DOUBLE))
                       / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                       * CAST(0.005 AS DOUBLE) AS delta,
                     sqrt((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE)
                       * CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                       / (CAST(n1 - 1 AS DOUBLE) * CAST(n1 AS DOUBLE))
                       + (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE)
                       * CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
                       / (CAST(n2 - 1 AS DOUBLE) * CAST(n2 AS DOUBLE)))
                       AS se
                   FROM p),
             t AS (SELECT *, (diff + delta) / se AS t_lower,
                     (delta - diff) / se AS t_upper
                   FROM c)
            SELECT n1, n2, round(diff, 6) AS diff,
                   round(delta, 6) AS delta, round(se, 6) AS se,
                   round(t_lower, 6) AS t_lower,
                   round(t_upper, 6) AS t_upper,
                   CAST(CASE WHEN least(t_lower, t_upper)
                     > CAST(1.645 AS DOUBLE) THEN 1 ELSE 0 END AS INT)
                     AS equivalent
            FROM t"""))

  /** A/B sample-size (power) calculator — the experiment-DESIGN member
    * of the ab family (lift/SPRT/t-test READ an experiment; this one
    * answers "how long must we run" BEFORE it starts): from the
    * observed per-priority revenue variance, the per-arm n to detect a
    * 1% mean lift at α = 5% (two-sided) / 80% power is
    * n = 2(z_{α/2}+z_β)²σ²/δ² with the standard constants
    * (1.959964, 0.841621) as shared literals and δ = 1% of the group
    * mean (stated rule). Exact DECIMAL(38,0) moments; days-to-run
    * rides along from the group's observed orders/day rate. Finals on
    * the 1e-6 grid; σ² in millions on the 1e-3 grid (cast-wobble
    * doctrine). */
  val qAbPower = Q(
    "q_ab_power",
    (s, dir) => {
      val m = Tables.orders(s, dir)
        .groupBy(col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("n"), sum(Det.cents("o_totalprice")).as("sv"),
          sum(expr(s"CAST(CAST(${Det.sqlCents("o_totalprice")}" +
            s" AS DECIMAL(38,0)) * CAST(${Det.sqlCents("o_totalprice")}" +
            " AS DECIMAL(38,0)) AS DECIMAL(38,0))"))
            .as("ssv"),
          countDistinct(col("o_orderdate")).as("days"))
      m.select(col("pri"), col("n"), col("days"),
        expr("CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)").as("mean"),
        expr("(CAST(ssv AS DOUBLE) - CAST(sv AS DOUBLE)" +
          " * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))" +
          " / CAST(n - 1 AS DOUBLE)").as("var"))
        .withColumn("delta", expr("mean * CAST(0.01 AS DOUBLE)"))
        .withColumn("n_req", expr(
          "CASE WHEN delta = CAST(0 AS DOUBLE) THEN NULL ELSE" +
            " CAST(ceil(CAST(2 AS DOUBLE)" +
            " * (CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE))" +
            " * (CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE))" +
            " * var / (delta * delta)) AS BIGINT) END"))
        .select(col("pri"), col("n"), expr("round(mean, 6)").as("mean"),
          expr("round(var / CAST(1000000 AS DOUBLE), 3)").as("var_m"),
          expr("round(delta, 6)").as("delta"),
          col("n_req"),
          expr("CASE WHEN days = 0 OR n = 0 THEN NULL ELSE" +
            " CAST(ceil(CAST(n_req AS DOUBLE)" +
            " / (CAST(n AS DOUBLE) / CAST(days AS DOUBLE)))" +
            " AS BIGINT) END").as("days_to_run"))
        .orderBy("pri")
    },
    Some(s"""WITH m AS (SELECT o_orderpriority AS pri,
                    CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(${Det.sqlCents("o_totalprice")}) AS BIGINT) AS sv,
                    sum(CAST(CAST(${Det.sqlCents("o_totalprice")}
                      AS DECIMAL(38,0))
                      * CAST(${Det.sqlCents("o_totalprice")} AS DECIMAL(38,0))
                        AS DECIMAL(38,0)))
                      AS ssv,
                    CAST(count(DISTINCT o_orderdate) AS BIGINT) AS days
                  FROM orders GROUP BY 1),
             c AS (SELECT pri, n, days,
                     CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                     (CAST(ssv AS DOUBLE) - CAST(sv AS DOUBLE)
                       * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
                       / CAST(n - 1 AS DOUBLE) AS var
                   FROM m),
             d AS (SELECT *, mean * CAST(0.01 AS DOUBLE) AS delta
                   FROM c),
             e AS (SELECT *,
                     CASE WHEN delta = CAST(0 AS DOUBLE) THEN NULL ELSE
                       CAST(ceil(CAST(2 AS DOUBLE)
                         * (CAST(1.959964 AS DOUBLE)
                         + CAST(0.841621 AS DOUBLE))
                         * (CAST(1.959964 AS DOUBLE)
                         + CAST(0.841621 AS DOUBLE))
                         * var / (delta * delta)) AS BIGINT) END AS n_req
                   FROM d)
            SELECT pri, n, round(mean, 6) AS mean,
                   round(var / CAST(1000000 AS DOUBLE), 3) AS var_m,
                   round(delta, 6) AS delta, n_req,
                   CASE WHEN days = 0 OR n = 0 THEN NULL ELSE
                     CAST(ceil(CAST(n_req AS DOUBLE)
                       / (CAST(n AS DOUBLE) / CAST(days AS DOUBLE)))
                       AS BIGINT) END AS days_to_run
            FROM e ORDER BY pri"""))

  /** Theil T inequality index with between/within decomposition — the
    * DECOMPOSABLE inequality measure (Gini — q_agg_gini — cannot split
    * into between-group + within-group parts; Theil's T = T_between +
    * Σ s_g·T_g exactly, which is why inequality-of-what-drives-what
    * analyses use it): customer order-spend across nations. T =
    * (1/N)Σ(x/μ)ln(x/μ), T_between = Σ s_g ln(μ_g/μ) with s_g the
    * group revenue share. Spend totals are exact integer cents; every
    * ratio is one shared division; per-row ln terms ride Dec12
    * order-free sums; the decomposition identity T = T_b + T_w is
    * emitted and spec-pinned. Customers with zero spend are excluded
    * (ln demands positivity — stated). Finals on the 1e-6 grid.
    * Scale: one orders⋈customer rollup per customer, a 25-row group
    * layer, one broadcast of the global moment row. */
  val qAggTheilIndex = Q(
    "q_agg_theil_index",
    (s, dir) => {
      val cust = Tables.orders(s, dir)
        .join(Tables.customer(s, dir),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey").as("ck"),
          col("c_nationkey").as("grp"))
        .agg(sum(Det.cents("o_totalprice")).as("x"))
        .where(col("x") > 0L)
      val tot = cust.agg(count(lit(1)).as("n"), sum(col("x")).as("xx"))
      val wt = cust.crossJoin(broadcast(tot))
        .withColumn("mu", expr("CAST(xx AS DOUBLE) / CAST(n AS DOUBLE)"))
        .withColumn("term", expr(
          "CAST(x AS DOUBLE) / mu * ln(CAST(x AS DOUBLE) / mu)"))
      val g = wt.groupBy("grp")
        .agg(count(lit(1)).as("n_g"), sum(col("x")).as("x_g"),
          sum(expr("CAST(term AS DECIMAL(38,12))")).cast(DoubleType)
            .as("tsum_g"),
          max(col("n")).as("n"), max(col("xx")).as("xx"))
        .withColumn("s_g", expr(
          "CAST(x_g AS DOUBLE) / CAST(xx AS DOUBLE)"))
        .withColumn("mu_g", expr(
          "CAST(x_g AS DOUBLE) / CAST(n_g AS DOUBLE)"))
        .withColumn("mu", expr("CAST(xx AS DOUBLE) / CAST(n AS DOUBLE)"))
        // group-local Theil: T_g = (1/n_g)Σ(x/μ_g)ln(x/μ_g)
        //   = (μ/μ_g)·[(1/n_g)Σ(x/μ)ln(x/μ)] − ln(μ_g/μ)·(μ/μ_g)·(1/n_g)Σ(x/μ)
        // spelled via the global-μ terms so ONE per-row pass serves all
        .withColumn("t_g", expr(
          "mu / mu_g * (tsum_g / CAST(n_g AS DOUBLE))" +
            " - ln(mu_g / mu) * (mu / mu_g)" +
            " * (CAST(x_g AS DOUBLE) / mu / CAST(n_g AS DOUBLE))"))
      val glob = g.agg(
        max(col("n")).as("n"),
        sum(expr("CAST(tsum_g AS DECIMAL(38,12))")).cast(DoubleType)
          .as("tsum"),
        sum(expr("CAST(s_g * ln(mu_g / mu) AS DECIMAL(38,12))"))
          .cast(DoubleType).as("t_between"),
        sum(expr("CAST(s_g * t_g AS DECIMAL(38,12))")).cast(DoubleType)
          .as("t_within"))
        .select(col("n"),
          expr("round(tsum / CAST(n AS DOUBLE), 6)").as("theil_t"),
          expr("round(t_between, 6)").as("t_between"),
          expr("round(t_within, 6)").as("t_within"))
      g.crossJoin(broadcast(glob))
        .select(col("grp"), col("n_g"),
          expr("round(s_g, 6)").as("s_g"),
          expr("round(t_g, 6)").as("t_g"),
          col("theil_t"), col("t_between"), col("t_within"))
        .orderBy("grp")
    },
    Some(s"""WITH cust AS (SELECT o_custkey AS ck, c_nationkey AS grp,
                    CAST(sum(${Det.sqlCents("o_totalprice")}) AS BIGINT) AS x
                  FROM orders JOIN customer ON o_custkey = c_custkey
                  GROUP BY 1, 2
                  HAVING sum(${Det.sqlCents("o_totalprice")}) > 0),
             tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(x) AS BIGINT) AS xx FROM cust),
             wt AS (SELECT grp, x, n, xx,
                      CAST(xx AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
                      CAST(x AS DOUBLE)
                        / (CAST(xx AS DOUBLE) / CAST(n AS DOUBLE))
                        * ln(CAST(x AS DOUBLE)
                        / (CAST(xx AS DOUBLE) / CAST(n AS DOUBLE)))
                        AS term
                    FROM cust, tot),
             g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_g,
                     CAST(sum(x) AS BIGINT) AS x_g,
                     CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE)
                       AS tsum_g,
                     max(n) AS n, max(xx) AS xx
                   FROM wt GROUP BY grp),
             g2 AS (SELECT *,
                      CAST(x_g AS DOUBLE) / CAST(xx AS DOUBLE) AS s_g,
                      CAST(x_g AS DOUBLE) / CAST(n_g AS DOUBLE) AS mu_g,
                      CAST(xx AS DOUBLE) / CAST(n AS DOUBLE) AS mu
                    FROM g),
             g3 AS (SELECT *,
                      mu / mu_g * (tsum_g / CAST(n_g AS DOUBLE))
                        - ln(mu_g / mu) * (mu / mu_g)
                        * (CAST(x_g AS DOUBLE) / mu
                        / CAST(n_g AS DOUBLE)) AS t_g
                    FROM g2),
             gtot AS (SELECT max(n) AS n,
                        CAST(SUM(CAST(tsum_g AS DECIMAL(38,12)))
                          AS DOUBLE) AS tsum,
                        CAST(SUM(CAST(s_g * ln(mu_g / mu)
                          AS DECIMAL(38,12))) AS DOUBLE) AS t_between,
                        CAST(SUM(CAST(s_g * t_g AS DECIMAL(38,12)))
                          AS DOUBLE) AS t_within
                      FROM g3),
             gf AS (SELECT n,
                      round(tsum / CAST(n AS DOUBLE), 6) AS theil_t,
                      round(t_between, 6) AS t_between,
                      round(t_within, 6) AS t_within
                    FROM gtot)
            SELECT grp, n_g, round(s_g, 6) AS s_g, round(t_g, 6) AS t_g,
                   theil_t, t_between, t_within
            FROM g3, gf ORDER BY grp"""))

  /** Lognormal fit by log-moments — the revenue-distribution model
    * check (means and variances describe a lognormal badly; fitting
    * μ,σ on the LOG scale and comparing the implied moments back to
    * the observed ones is the standard "is lognormal adequate" loop):
    * per priority, μ̂ = mean ln(x), σ̂² = sample var ln(x) (per-row ln
    * over identical integer-cent doubles, Dec12 order-free sums), then
    * two SCALE-FREE adequacy ratios — implied mean exp(μ̂+σ̂²/2) over
    * observed mean, and implied CV² = exp(σ̂²)−1 over observed CV² —
    * both ~1 iff lognormal fits (raw implied moments are ~1e7 cents
    * where exp's last-ulp wobble defeats any grid; the ratios keep
    * everything O(1) on the 1e-6 grid). Zero/negative cents excluded
    * (stated). One scan, 5-row group aggregate. */
  val qAggLognormalFit = Q(
    "q_agg_lognormal_fit",
    (s, dir) => {
      val x = Tables.orders(s, dir)
        .select(col("o_orderpriority").as("pri"),
          Det.cents("o_totalprice").as("v"))
        .where(col("v") > 0L)
        .withColumn("lx", expr("ln(CAST(v AS DOUBLE))"))
      x.groupBy("pri")
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          sum(expr("CAST(CAST(v AS DECIMAL(38,0))" +
            " * CAST(v AS DECIMAL(38,0)) AS DECIMAL(38,0))")).as("svv"),
          sum(expr("CAST(lx AS DECIMAL(38,12))")).cast(DoubleType)
            .as("sl"),
          sum(expr("CAST(lx * lx AS DECIMAL(38,12))")).cast(DoubleType)
            .as("sl2"))
        .select(col("pri"), col("n"),
          expr("sl / CAST(n AS DOUBLE)").as("mu_ln"),
          expr("(sl2 - sl * sl / CAST(n AS DOUBLE))" +
            " / CAST(n - 1 AS DOUBLE)").as("var_ln"),
          expr("CAST(sv AS DOUBLE) / CAST(n AS DOUBLE)").as("mean_obs"),
          expr("(CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE)" +
            " * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))" +
            " / CAST(n - 1 AS DOUBLE)").as("var_obs"))
        .select(col("pri"), col("n"),
          expr("round(mu_ln, 6)").as("mu_ln"),
          expr("round(sqrt(var_ln), 6)").as("sigma_ln"),
          expr("round(exp(mu_ln + var_ln / CAST(2 AS DOUBLE))" +
            " / mean_obs, 6)").as("mean_ratio"),
          expr("CASE WHEN mean_obs = CAST(0 AS DOUBLE) THEN NULL ELSE" +
            " round((exp(var_ln) - CAST(1 AS DOUBLE))" +
            " / (var_obs / (mean_obs * mean_obs)), 6) END")
            .as("cv2_ratio"))
        .orderBy("pri")
    },
    Some(s"""WITH x AS (SELECT o_orderpriority AS pri, v,
                    ln(CAST(v AS DOUBLE)) AS lx
                  FROM (SELECT o_orderpriority,
                    ${Det.sqlCents("o_totalprice")} AS v FROM orders)
                  WHERE v > 0),
             m AS (SELECT pri, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(v) AS BIGINT) AS sv,
                     sum(CAST(CAST(v AS DECIMAL(38,0))
                       * CAST(v AS DECIMAL(38,0)) AS DECIMAL(38,0)))
                       AS svv,
                     CAST(SUM(CAST(lx AS DECIMAL(38,12))) AS DOUBLE)
                       AS sl,
                     CAST(SUM(CAST(lx * lx AS DECIMAL(38,12)))
                       AS DOUBLE) AS sl2
                   FROM x GROUP BY pri),
             c AS (SELECT pri, n,
                     sl / CAST(n AS DOUBLE) AS mu_ln,
                     (sl2 - sl * sl / CAST(n AS DOUBLE))
                       / CAST(n - 1 AS DOUBLE) AS var_ln,
                     CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) AS mean_obs,
                     (CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE)
                       * CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))
                       / CAST(n - 1 AS DOUBLE) AS var_obs
                   FROM m)
            SELECT pri, n, round(mu_ln, 6) AS mu_ln,
                   round(sqrt(var_ln), 6) AS sigma_ln,
                   round(exp(mu_ln + var_ln / CAST(2 AS DOUBLE))
                     / mean_obs, 6) AS mean_ratio,
                   CASE WHEN mean_obs = CAST(0 AS DOUBLE) THEN NULL ELSE
                     round((exp(var_ln) - CAST(1 AS DOUBLE))
                       / (var_obs / (mean_obs * mean_obs)), 6) END
                     AS cv2_ratio
            FROM c ORDER BY pri"""))

  /** Hill tail-index estimator — HOW heavy is the heavy tail (Gumbel
    * fit assumes a light tail; the Pareto α from the top order
    * statistics is the number that says whether means/variances even
    * exist: α < 2 ⇒ infinite variance): α̂ = k / Σ_{i≤k} ln(x_i /
    * x_{k+1}) over the top k = 100 order totals in a TOTAL order
    * (value desc, key asc — ties at the boundary contribute ln 1 = 0,
    * harmless by construction). The top-101 set comes from TakeOrdered
    * (per-partition heads + driver merge, no global sort); the rank
    * window runs on those ≤101 rows (LIMIT-bounded, the zipf_fit
    * allowlist class). ln terms Dec12 order-free; finals on the 1e-6
    * grid. */
  val qAggHillTail = Q(
    "q_agg_hill_tail",
    (s, dir) => {
      val top = Tables.orders(s, dir)
        .select(col("o_orderkey").as("k"), Det.cents("o_totalprice").as("v"))
        .orderBy(col("v").desc, col("k").asc).limit(101)
      val w = Window.orderBy(col("v").desc, col("k").asc)
      val ranked = top.withColumn("rn", row_number().over(w))
      val xk1 = ranked.where(col("rn") === 101)
        .select(col("v").as("xk1"))
      ranked.where(col("rn") <= 100)
        .crossJoin(broadcast(xk1))
        .agg(count(lit(1)).as("n_tail"),
          max(col("xk1")).as("xk1"),
          sum(expr("CAST(ln(CAST(v AS DOUBLE) / CAST(xk1 AS DOUBLE))" +
            " AS DECIMAL(38,12))")).cast(DoubleType).as("slog"))
        .select(col("n_tail"), col("xk1"),
          expr("CASE WHEN slog = CAST(0 AS DOUBLE) THEN NULL ELSE" +
            " round(CAST(n_tail AS DOUBLE) / slog, 6) END")
            .as("alpha_hill"))
    },
    Some(s"""WITH top AS (SELECT o_orderkey AS k, v
                  FROM (SELECT o_orderkey, ${Det.sqlCents("o_totalprice")}
                    AS v FROM orders)
                  ORDER BY v DESC, k ASC LIMIT 101),
             ranked AS (SELECT v,
                          row_number() OVER (ORDER BY v DESC, k ASC)
                            AS rn
                        FROM top),
             xk AS (SELECT v AS xk1 FROM ranked WHERE rn = 101),
             a AS (SELECT CAST(count(*) AS BIGINT) AS n_tail,
                     max(xk1) AS xk1,
                     CAST(SUM(CAST(ln(CAST(v AS DOUBLE)
                       / CAST(xk1 AS DOUBLE)) AS DECIMAL(38,12)))
                       AS DOUBLE) AS slog
                   FROM ranked, xk WHERE rn <= 100)
            SELECT n_tail, xk1,
                   CASE WHEN slog = CAST(0 AS DOUBLE) THEN NULL ELSE
                     round(CAST(n_tail AS DOUBLE) / slog, 6) END
                     AS alpha_hill
            FROM a"""))

  /** Column-profile drift monitor — the DQ check that catches silent
    * upstream schema/semantics changes between two snapshot windows
    * (1996 vs 1997 orders): per watched column, row count, distinct
    * count, null fraction, and top-value share in BOTH windows plus
    * the drift ratios a monitor alerts on (distinct-count ratio and
    * top-share delta). The profile is a per-column aggregate — one
    * profile aggregate plus one mode rollup per (column, window) —
    * 3 watched columns here; a production monitor lists its contract
    * columns the same way and fuses the per-column aggregates into one
    * pass. All counts exact; ratios on the 1e-6 grid. */
  val qDqProfileDrift = Q(
    "q_dq_profile_drift",
    (s, dir) => {
      def win(yr: Int) = Tables.orders(s, dir)
        .where(expr(s"year(o_orderdate) = $yr"))
      def profile(yr: Int, suffix: String) = {
        val o = win(yr)
        def one(cn: String, e: String) = {
          val top = o.groupBy(expr(e).as("v"))
            .agg(count(lit(1)).as("c"))
            .orderBy(col("c").desc, col("v").asc).limit(1)
            .select(col("c").as("topc"))
          o.agg(count(lit(1)).as("n"),
            countDistinct(expr(e)).as("nd"),
            sum(when(expr(e).isNull, 1L).otherwise(0L)).as("nulls"))
            .crossJoin(broadcast(top))
            .select(lit(cn).as("col"), col("n").as(s"n_$suffix"),
              col("nd").as(s"nd_$suffix"),
              expr("CAST(nulls AS DOUBLE) / CAST(n AS DOUBLE)")
                .as(s"nullfrac_$suffix"),
              expr("CAST(topc AS DOUBLE) / CAST(n AS DOUBLE)")
                .as(s"topshare_$suffix"))
        }
        one("o_orderpriority", "o_orderpriority")
          .unionAll(one("o_orderstatus", "o_orderstatus"))
          .unionAll(one("o_custkey", "o_custkey"))
      }
      profile(1996, "a").join(profile(1997, "b"), Seq("col"))
        .select(col("col"), col("n_a"), col("n_b"),
          col("nd_a"), col("nd_b"),
          expr("round(nullfrac_a, 6)").as("nullfrac_a"),
          expr("round(nullfrac_b, 6)").as("nullfrac_b"),
          expr("round(topshare_a, 6)").as("topshare_a"),
          expr("round(topshare_b, 6)").as("topshare_b"),
          expr("CASE WHEN nd_a = 0 THEN NULL ELSE" +
            " round(CAST(nd_b AS DOUBLE) / CAST(nd_a AS DOUBLE), 6)" +
            " END").as("distinct_ratio"),
          expr("round(topshare_b - topshare_a, 6)").as("topshare_delta"))
        .orderBy("col")
    },
    Some {
      def prof(yr: Int, col: String) =
        s"""SELECT '$col' AS col,
              CAST(count(*) AS BIGINT) AS n,
              CAST(count(DISTINCT $col) AS BIGINT) AS nd,
              CAST(sum(CASE WHEN $col IS NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(count(*) AS DOUBLE) AS nullfrac,
              (SELECT CAST(count(*) AS BIGINT) FROM orders
               WHERE year(o_orderdate) = $yr AND $col =
                 (SELECT $col FROM orders WHERE year(o_orderdate) = $yr
                  GROUP BY $col ORDER BY count(*) DESC, $col ASC
                  LIMIT 1)) / CAST(count(*) AS DOUBLE) AS topshare
            FROM orders WHERE year(o_orderdate) = $yr"""
      def win(yr: Int) =
        Seq("o_orderpriority", "o_orderstatus", "o_custkey")
          .map(prof(yr, _)).mkString(" UNION ALL ")
      s"""WITH a AS (${win(1996)}),
              b AS (${win(1997)})
            SELECT a.col, a.n AS n_a, b.n AS n_b,
                   a.nd AS nd_a, b.nd AS nd_b,
                   round(a.nullfrac, 6) AS nullfrac_a,
                   round(b.nullfrac, 6) AS nullfrac_b,
                   round(a.topshare, 6) AS topshare_a,
                   round(b.topshare, 6) AS topshare_b,
                   CASE WHEN a.nd = 0 THEN NULL ELSE
                     round(CAST(b.nd AS DOUBLE)
                       / CAST(a.nd AS DOUBLE), 6) END AS distinct_ratio,
                   round(b.topshare - a.topshare, 6) AS topshare_delta
            FROM a JOIN b ON a.col = b.col ORDER BY a.col"""
    })

  val all: Seq[Q] = Seq(qTimeDecompose, qErBlocking, qFeatureTargetEncode,
    qTimeSax, qMlPerceptron, qTimePeriodogram, qFeatureScale, qTimeDtw,
    qJoinIntervalOverlap, qFeatureHashing, qAggMutualInfo,
    qTimeLttb, qTimeM4, qAggPcaPower,
    qKnnClassify, qTrendMannKendall, qSkyline2d, qVocabCoverage,
    qNgramNovelty, qAggBenford, qBitmapEngagement, qParseLogline,
    qChecksumTable, qGraph2hopHubs, qInvertedIndex, qAggCovarMatrix,
    qWinHampel, qSourceFixedWidth, qAggChi2, qAggKsTest,
    qChangepointCusum, qSeasonalDow, qAggTtest, qAggMannwhitney,
    qAggRunsTest, qAggTheilSen, qAggSurvivalKm, qAggFdrBh,
    qAggCramersV, qTextBurstiness, qDqUniqueness, qAggLorenz,
    qDqDriftPsi, qAnomalyEsd, qAggAnova, qAggSpearman, qAggKendall,
    qEvalAuc, qMlStump, qAggOlsMulti, qTimeLcss,
    qEvalCalibration, qGraphAssortativity, qTimeForecastEval,
    qFeatureSelectMi, qAggLevene, qAggHodgesLehmann, qEvalPrCurve,
    qGraphModularity, qAggDeltaMethod, qDqFreshness,
    qAggCohensD, qSketchHistQuantiles, qTimeChangepointBinseg,
    qAggVarMerge, qAggCvar, qAggGumbelFit, qFeatureWoeIv,
    qLayoutPartitionAdvisor, qAbSequentialSprt, qAggCaptureRecapture,
    qEvalMcnemar, qSampleBalanced, qDqFkInference,
    qAggCronbach, qSeqEntropyRate, qAggDispersion,
    qAggOddsRatio, qTextLexicalDiversity, qAggTrimmedMean,
    qEvalBrier, qEvalKappa, qAggJarqueBera, qAggGrubbs, qAggRateCi,
    qAggQq, qPriceElasticity, qCohortLtv, qAggTukeyHsd, qAggWilsonCi,
    qTimeGranger, qAggBetaBinomial, qTimeTurningPoints,
    qAggKruskalWallis, qAggWilcoxonSigned, qAggSignTest,
    qAggFriedman, qAggMedianTest, qAggCochranQ, qAggAndersonDarling,
    qTimeHurst, qTimeSpectralEntropy, qTimeTheilU, qTimePacf,
    qAggDeming, qAggConcordance, qAggIcc,
    qTimeLjungBox, qTimeDurbinWatson,
    qQcXbarR, qAbTost, qAbPower, qAggTheilIndex,
    qAggLognormalFit, qAggHillTail, qDqProfileDrift)
}
