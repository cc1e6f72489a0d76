package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** One named engine capability: the Spark implementation plus (for
  * SQL-expressible ops) the DuckDB oracle the driver hash-compares against.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

/** Determinism helpers — SURVEY.md §7.2 doctrine.
  *
  * Double `sum`/`avg` in Spark is reduction-order-dependent (partial
  * aggregation across partitions), so a straight double sum can differ from
  * DuckDB in the last ulp and break the driver's hash compare. Policy: cast
  * each input row to DECIMAL(38,6) (deterministic, order-independent exact
  * sum), sum exactly, then cast the final result back to DOUBLE. Both sides
  * of every oracle pair use the identical formulation.
  */
object Det {
  val Dec: DecimalType = DecimalType(38, 6)

  /** Order-independent double sum (exact decimal internally). */
  def dsum(c: Column): Column = sum(c.cast(Dec)).cast(DoubleType)

  /** Order-independent double avg = decimal-sum / count, divided as doubles
    * so both engines perform the same single IEEE division.
    */
  def davg(c: Column): Column =
    sum(c.cast(Dec)).cast(DoubleType) / count(c).cast(DoubleType)

  /** Oracle-side SQL spellings of the same helpers. */
  def sqlSum(e: String): String =
    s"CAST(SUM(CAST(($e) AS DECIMAL(38,6))) AS DOUBLE)"
  def sqlAvg(e: String): String =
    s"CAST(SUM(CAST(($e) AS DECIMAL(38,6))) AS DOUBLE) / CAST(COUNT($e) AS DOUBLE)"

  /** Scale-12 variant for full-precision float inputs (e.g. embedding
    * components). Scale 6 quantizes at the same magnitude as the data's
    * 7th significant digit, so the engines' float→decimal rounding-rule
    * difference (Spark HALF_UP on the shortest repr vs DuckDB on the exact
    * binary expansion) surfaces as off-by-1e-6 diffs. At scale 12 both
    * engines see ≥16 identical leading digits, so the quantization is
    * boundary-safe; inputs are cast to DOUBLE first so both engines expand
    * the same value.
    */
  val Dec12: DecimalType = DecimalType(38, 12)
  def davg12(c: Column): Column =
    sum(c.cast(DoubleType).cast(Dec12)).cast(DoubleType) /
      count(c).cast(DoubleType)
  def sqlAvg12(e: String): String =
    s"CAST(SUM(CAST(CAST(($e) AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)" +
      s" / CAST(COUNT($e) AS DOUBLE)"

  /** Exact integer carrier for cent sums and their products. */
  val Dec0: DecimalType = DecimalType(38, 0)

  /** Money to exact integer cents, nearest-int as floor(x·100 + 0.5):
    * pure IEEE in both engines, where the engines' round() diverges at
    * ties. `x` is interpolated as is, so it must bind at least as tightly
    * as `*` (a column, a call, a product or a parenthesized expression).
    * One SQL text for both sides: Spark parses it via `cents`, the oracle
    * interpolates `sqlCents`.
    *
    * Out of BIGINT range the rule raises in both engines. Spark's
    * floor(DOUBLE) is already a BIGINT that saturates (1e20 gives
    * Long.MaxValue, NaN gives 0), and its DOUBLE→BIGINT cast lets 2^63
    * through as Long.MaxValue, so floor(v) gets a guard term that is 0
    * for -2^63 ≤ v < 2^63 and otherwise (NaN too) a cast to INT, which
    * overflows in both engines and names the offending value. The guard
    * is added, not wrapped around floor(v), so that Spark still infers
    * `x IS NOT NULL` from a filter on the cents.
    */
  def sqlCents(x: String): String = {
    val v = s"$x * CAST(100.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)"
    val lim = "CAST(9223372036854775807 AS DOUBLE)" // 2^63 once rounded
    s"CAST(floor($v) + CASE WHEN $v >= -$lim AND $v < $lim THEN 0 " +
      s"ELSE CAST($v AS INT) END AS BIGINT)"
  }
  def cents(x: String): Column = expr(sqlCents(x))

  /** Money to integer cents via the engines' round(x·100). Not
    * interchangeable with `sqlCents`: the float addition in x·100 + 0.5
    * can round up to the next integer where round(x·100) does not, so a
    * query keeps whichever rule its oracle was written with. Out of
    * BIGINT range it raises in both engines by the same added guard term
    * as `sqlCents`: Spark's DOUBLE→BIGINT cast alone lets 2^63 through.
    */
  def sqlRoundCents(x: String): String = {
    val v = s"$x * 100"
    val lim = "CAST(9223372036854775807 AS DOUBLE)" // 2^63 once rounded
    s"CAST(round($v) + CASE WHEN $v >= -$lim AND $v < $lim THEN 0 " +
      s"ELSE CAST($v AS INT) END AS BIGINT)"
  }
  def roundCents(x: String): Column = expr(sqlRoundCents(x))

  /** The daily revenue series: lineitem grouped by return flag (AS
    * `flag`, when `byFlag`) and ship day (AS `d`), with the day's sum of
    * l_extendedprice in cents by `rule` AS `v` — BIGINT, or DECIMAL(38,0)
    * per row and in the sum when `dec0`. `more` are further aggregates
    * of the same groups. `sqlDailyCents` is the oracle's CTE body for the
    * series by flag, HUGEINT standing in for DECIMAL(38,0).
    */
  def dailyCents(spark: SparkSession, dir: String, v: String,
                 byFlag: Boolean = true, dec0: Boolean = false,
                 rule: String => String = sqlCents,
                 more: Seq[Column] = Nil): DataFrame = {
    val keys = (if (byFlag) Seq(col("l_returnflag").as("flag")) else Nil) :+
      to_date(col("l_shipdate")).as("d")
    val c = expr(rule("l_extendedprice"))
    val total = if (dec0) sum(c.cast(Dec0)).cast(Dec0) else sum(c)
    Tables.lineitem(spark, dir).groupBy(keys: _*).agg(total.as(v), more: _*)
  }
  def sqlDailyCents(v: String, dec0: Boolean = false,
                    rule: String => String = sqlCents,
                    more: Seq[String] = Nil): String = {
    val carrier = if (dec0) "HUGEINT" else "BIGINT"
    val aggs = (s"CAST(SUM(${rule("l_extendedprice")}) AS $carrier) AS $v" +:
      more).mkString(", ")
    s"SELECT l_returnflag AS flag, CAST(l_shipdate AS DATE) AS d, $aggs " +
      "FROM lineitem GROUP BY 1, 2"
  }

  /** Portable 60-bit hash — the cross-engine determinism workhorse.
    *
    * Spark's native hashes (xxhash64, hash) have no DuckDB equivalent, so any
    * sketch built on them can never get a DuckDB oracle. md5 exists in both
    * engines with identical bytes-in/hex-out semantics; 15 hex chars = 60
    * bits fits a signed BIGINT exactly in both. Spark spells the hex→int as
    * `conv(...,16,10)`, DuckDB as `('0x'||...)::BIGINT` — same value.
    */
  def pHash60(c: Column): Column =
    conv(substring(md5(c.cast(StringType)), 1, 15), 16, 10).cast(LongType)
  def sqlPHash60(e: String): String =
    s"(('0x' || substr(md5(CAST(($e) AS VARCHAR)), 1, 15))::BIGINT)"

  /** Portable 32-bit variant (fits exactly in a DOUBLE too). */
  def pHash32(c: Column): Column =
    conv(substring(md5(c.cast(StringType)), 1, 8), 16, 10).cast(LongType)
  def sqlPHash32(e: String): String =
    s"(('0x' || substr(md5(CAST(($e) AS VARCHAR)), 1, 8))::BIGINT)"

  /** Portable polynomial rolling hash — a window's chars combined as a
    * fixed-weight base-131 polynomial mod the Mersenne prime 2³¹−1 —
    * for PER-POSITION hashing in char-level operators (CDC boundaries,
    * winnowing fingerprints). Per-position md5 was the r16 cost center
    * (~1.5 M interpreted md5+concat+conv evals at sf0.1 in winnowing
    * alone); this is k multiply-adds and ONE final pmod per position,
    * identical in both engines by construction. The k terms are spelled
    * out with precomputed base powers (weights 131^(k−1)..131^0 for
    * window positions 0..k−1) — element_at is O(1) on the code array,
    * so no per-position slice array is materialized. Positions past the
    * doc end contribute 0 on BOTH sides, so a tail window shorter than
    * k keeps the SAME weights for the chars it has (Spark: coalesce
    * over the null try_element_at; DuckDB: the CASE guard — NB DuckDB
    * unicode('') is −1, so the guard must be explicit, not coalesce).
    * Single-pmod safety: max sum = 126·Σ131^k (k<8) ≈ 8.4e16 ≪ 2⁶³ on
    * ASCII input — the documented domain: Spark `ascii()` and DuckDB
    * `unicode()` agree there and DIVERGE on non-ASCII (Spark yields
    * replacement char 65533); the synthetic corpus is printable ASCII
    * (re-verified r17: 0 docs match [^\x20-\x7e]); non-ASCII would
    * break Spark/DuckDB parity loudly in the hash compare.
    *
    * Spark side expects a lambda-let `cd` in scope = the BIGINT code
    * array (transform(cs, c -> CAST(ascii(c) AS BIGINT))) plus the
    * position variable. ALWAYS use this pair together — a Horner-over-
    * slice variant (deleted r18) weighted short tail windows
    * differently and would silently break parity if mixed in.
    */
  def sparkRollAt(cdVar: String, iVar: String, k: Int): String = {
    val pows = Array.iterate(1L, k)(_ * 131L).reverse
    val terms = pows.zipWithIndex.map { case (p, j) =>
      s"coalesce(try_element_at($cdVar, $iVar + $j), CAST(0 AS BIGINT)) * ${p}L"
    }
    s"pmod(${terms.mkString(" + ")}, 2147483647)"
  }
  def sqlRollAt(textE: String, iE: String, k: Int): String = {
    val pows = Array.iterate(1L, k)(_ * 131L).reverse
    val terms = pows.zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN ($iE) + $j <= len($textE) THEN" +
        s" CAST(unicode(substr($textE, CAST(($iE) + $j AS INTEGER), 1))" +
        s" AS BIGINT) ELSE 0 END) * $p"
    }
    s"((${terms.mkString(" + ")}) % 2147483647)"
  }

  /** Remove an ORDER BY clause from an embedded oracle so it can serve as
    * a CTE body — and FAIL LOUDLY if the clause text no longer matches
    * (a silent `.replace` no-op after a reformat would leave an ORDER BY
    * inside the CTE; DuckDB tolerates it, but the composed oracle would
    * drift from the text we think we composed).
    */
  def sqlDropOrderBy(sql: String, clause: String): String = {
    val out = sql.replace(clause, "")
    require(out != sql,
      s"oracle composition: expected to strip '$clause' but the clause " +
        "was not found — the embedded oracle text changed; update the " +
        "caller's clause to match")
    out
  }
}
