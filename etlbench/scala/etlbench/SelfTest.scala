package etlbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.functions._

/** JVM-side tests of the benchmark's own logic: digest combining and order
  * sensitivity, the digest sink against the driver-side reference, and the
  * delivered-plan guard (run by `run.py --selftest`).
  */
object SelfTest {
  private var failed = 0

  private def expect(name: String, ok: Boolean): Unit = {
    System.err.println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failed += 1
  }

  def main(args: Array[String]): Unit = {
    val hs = Seq(11L, -3L, 7L, 7L, 0L, Long.MaxValue)
    val whole = hs.foldLeft(Digest.empty)(_ add _)
    val splits = (0 to hs.size).map { i =>
      val (a, b) = hs.splitAt(i)
      a.foldLeft(Digest.empty)(_ add _) ++ b.foldLeft(Digest.empty)(_ add _)
    }
    expect("split digests combine to the whole", splits.forall(_ == whole))
    expect("empty is the identity",
      (Digest.empty ++ whole) == whole && (whole ++ Digest.empty) == whole)
    val swapped = Seq(-3L, 11L, 7L, 7L, 0L, Long.MaxValue)
      .foldLeft(Digest.empty)(_ add _)
    expect("digest is order-sensitive", swapped.h != whole.h)
    expect("digest counts rows", whole.n == hs.size && whole.show.startsWith("6:"))

    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "3").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val df = spark.range(0, 1000).select(col("id"),
          regexp_replace(col("id").cast("string"), "[0-9]", "#").as("masked"),
          (col("id") % 7).as("k"))
        .orderBy(col("k"), col("id").desc)
      val sink = Deliver.digest(df)
      expect("sink digest equals the collected digest",
        sink == Deliver.collectDigest(df))
      val proj = UnsafeProjection.create(df.schema)
      val reversed = Digest.of(df.queryExecution.executedPlan.executeCollect()
        .reverseIterator.map(proj(_)))
      expect("sink digest sees row order", reversed.h != sink.h)
      expect("guard accepts the delivered plan", Deliver.guard(df).isEmpty)
      val counted = df.groupBy().count().queryExecution.optimizedPlan
      expect("guard rejects a count() plan",
        Deliver.guard(counted,
          df.coalesce(1).queryExecution.optimizedPlan).nonEmpty)
    } finally spark.stop()
    if (failed > 0) {
      System.err.println(s"$failed self-test(s) failed")
      sys.exit(1)
    }
  }
}
