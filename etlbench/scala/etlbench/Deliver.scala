package etlbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Repartition, Sort}
import org.apache.spark.sql.execution.{FileSourceScanExec, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Order-aware digest of a row sequence: `h` is the polynomial
  * Σ rowHash(i) · P^(n-1-i) (mod 2^64), `pw` is P^n. Two digests of
  * consecutive runs combine exactly, so per-partition digests fold into the
  * digest of the whole ordered output without moving rows.
  */
final case class Digest(n: Long, h: Long, pw: Long) {
  def add(rowHash: Long): Digest =
    Digest(n + 1, h * Digest.P + rowHash, pw * Digest.P)
  def ++(next: Digest): Digest =
    Digest(n + next.n, h * next.pw + next.h, pw * next.pw)
  def show: String = f"$n:$h%016x"
}

object Digest {
  val P: Long = 0x9e3779b97f4a7c15L
  val empty: Digest = Digest(0L, 0L, 1L)

  def rowHash(r: UnsafeRow): Long =
    XXH64.hashUnsafeBytes(r.getBaseObject, r.getBaseOffset,
      r.getSizeInBytes, 42L)

  def of(rows: Iterator[UnsafeRow]): Digest =
    rows.foldLeft(empty)((d, r) => d.add(rowHash(r)))
}

/** The two ways an output reaches its consumer, and the plan facts the
  * traced run and the delivered-plan guard read.
  */
object Deliver {

  /** The digest sink: executes `df`'s own physical plan (the plan `Verify`
    * writes, minus its single-file coalesce) under a SQL execution id,
    * digests each partition in place and folds the partitions in order.
    */
  def digest(df: DataFrame): Digest = {
    val qe = df.queryExecution
    val schema = df.schema
    SQLExecution.withNewExecutionId(qe, Some("etlbench-deliver")) {
      qe.toRdd.mapPartitionsWithIndex { (i, rows) =>
        val proj = UnsafeProjection.create(schema)
        Iterator((i, Digest.of(rows.map(proj(_)))))
      }.collect()
    }.sortBy(_._1).map(_._2).foldLeft(Digest.empty)(_ ++ _)
  }

  /** Reference digest through a different path: the whole output is
    * collected to the driver and digested there, row by row.
    */
  def collectDigest(df: DataFrame): Digest = {
    val proj = UnsafeProjection.create(df.schema)
    val rows = SQLExecution.withNewExecutionId(df.queryExecution,
      Some("etlbench-reference"))(df.queryExecution.executedPlan.executeCollect())
    Digest.of(rows.iterator.map(proj(_)))
  }

  /** Export stage: the single-file parquet target `Verify` would write,
    * built through the make-style store seam into a fresh directory, then
    * read back and digested. Returns the digest and whether a build ran.
    */
  def export(spark: SparkSession, df: DataFrame, inputs: Seq[String],
             outPath: String): (Digest, Boolean) = {
    val (back, rebuilt) = graft.sources.Incremental.materialize(
      spark, inputs, outPath)(df.coalesce(1))
    (digest(back), rebuilt)
  }

  def exprCount(p: LogicalPlan): Long =
    p.collectWithSubqueries { case n =>
      n.expressions.map(_.collect { case _ => 1 }.size).sum }
      .map(_.toLong).sum

  def nodeCount(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => nodeCount(a.inputPlan)
    case _ => 1L + p.children.map(nodeCount).sum +
      p.subqueries.map(nodeCount).sum
  }

  /** Files and bytes the delivered plan's file scans listed, from the
    * scan nodes' own SQL metrics (AQE stages and subqueries included).
    */
  def scanStats(p: SparkPlan): (Long, Long) = {
    val scans = Seq.newBuilder[FileSourceScanExec]
    def walk(n: SparkPlan): Unit = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case f: FileSourceScanExec => scans += f
      case other =>
        other.children.foreach(walk); other.subqueries.foreach(walk)
    }
    walk(p)
    scans.result().foldLeft((0L, 0L)) { case ((files, bytes), s) =>
      def m(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      (files + m("numFiles"), bytes + m("filesSize"))
    }
  }

  /** The delivered-plan guard. `Verify` writes `df.coalesce(1)`; the timed
    * plan is `df` itself. Below the coalesce the two optimized plans must
    * agree: a final sort is kept and no expression is pruned. Returns the
    * reason for a mismatch, or None.
    */
  def guard(timed: LogicalPlan, written: LogicalPlan): Option[String] = {
    val below = written match {
      case Repartition(1, false, child) => child
      case other => other
    }
    val sortKept = !below.isInstanceOf[Sort] || timed.isInstanceOf[Sort]
    val (te, we) = (exprCount(timed), exprCount(below))
    if (!sortKept) Some("final Sort dropped from the timed plan")
    else if (te != we) Some(s"timed plan has $te expression nodes, the " +
      s"written plan $we")
    else None
  }

  def guard(df: DataFrame): Option[String] =
    guard(df.queryExecution.optimizedPlan,
      df.coalesce(1).queryExecution.optimizedPlan)
}
