package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The two cents rules, `Det.cents` (floor) and `Det.roundCents`: exact
  * cents for every amount whose cents fit a BIGINT, and a raised error for
  * every other amount, as DuckDB raises on the same text.
  */
class CentsSpec extends AnyFunSuite with SparkFixture {
  private def amounts(xs: Seq[Double]) = {
    val s = spark
    import s.implicits._
    xs.toDF("x")
  }

  // the rules as they read before their range guards, as independent
  // references
  private val unguardedFloor =
    "CAST(floor(x * CAST(100.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"
  private val unguardedRound = "CAST(round(x * 100) AS BIGINT)"

  // 9.223372036854776E16 · 100 is exactly 2^63, one past Long.MaxValue
  private val outOfRange = Seq(1e20, -1e20, 9.223372036854776e16, -1e17,
    Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)

  private val inRange = {
    val rnd = new scala.util.Random(7)
    Seq(0.0, -0.0, 0.005, -0.005, 0.015, 1e-300, 104949.5,
      -999.99, 9999.99, 9.2e16, -9.2e16, -9.223372036854776e16) ++
      Seq.fill(2000)(rnd.nextDouble() * 2e5 - 1e5) ++
      Seq.fill(2000)(math.rint((rnd.nextDouble() * 2e6 - 1e6)) / 100)
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  private def assertRaises(rule: Column): Unit =
    outOfRange.foreach { x =>
      val e = intercept[Exception] {
        amounts(Seq(x)).select(rule).collect()
      }
      assert(causes(e).exists(c => String.valueOf(c.getMessage)
        .contains("CAST_OVERFLOW")), s"$x: $e")
    }

  private def assertKeeps(rule: Column, unguarded: String): Unit = {
    val got = amounts(inRange)
      .select(col("x"), rule.as("c"), expr(unguarded).as("u"))
      .collect()
    val diff = got.filter(r => r.getLong(1) != r.getLong(2))
    assert(diff.isEmpty, diff.take(5).mkString(", "))
    // -2^63 itself fits: the low edge is in range, not an error
    assert(got.exists(r => r.getLong(1) == Long.MinValue))
  }

  test("floor cents rule raises on amounts whose cents overflow BIGINT") {
    assertRaises(Det.cents("x"))
  }

  test("floor cents rule keeps the unguarded value on in-range amounts") {
    assertKeeps(Det.cents("x"), unguardedFloor)
  }

  test("round cents rule raises on amounts whose cents overflow BIGINT") {
    assertRaises(Det.roundCents("x"))
  }

  test("round cents rule keeps the unguarded value on in-range amounts") {
    assertKeeps(Det.roundCents("x"), unguardedRound)
  }
}
