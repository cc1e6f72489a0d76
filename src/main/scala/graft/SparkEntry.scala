package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators._
import graft.functions.{Scalars, Sketches, Udx}
import graft.sources.{Bucketing, SourcesSinks}
import graft.streaming.StreamQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** All implemented capabilities, one Q per SURVEY.md §2 row. */
  private def allQueries: Seq[Q] =
    Relational.all ++ Aggregates.all ++ Windows.all ++ Scalars.all ++
      StreamQueries.all ++ Llm.all ++ Udx.all ++ Multimodal.all ++
      SourcesSinks.all ++ Skew.all ++ Bucketing.all ++ Sketches.all ++
      Layout.all ++ Analytics.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.qJoinMultiwayStar.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(o => q.name -> o)).toMap

  /** Data directory of the Bench / PlanDump mains: `SPARK_GRAFT_SF_DIR`. */
  def envSfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** Cores of a local session: `SPARK_GRAFT_CPUS`, default 4. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  /** The local-session policy every main and the test fixture share:
    * `local[cores]` with as many shuffle partitions as cores, the session
    * time zone pinned to UTC (Tables.events' MICROS path casts wall-clock,
    * so an unpinned session on a non-UTC host reads shifted timestamps),
    * ANSI on (the default, but SPARK_ANSI_SQL_MODE can flip it, and then
    * a long sum overflow wraps silently instead of raising), the engine's
    * functions injected into every session by GraftExtensions, no UI,
    * and WARN logging.
    */
  def localSession(cores: Int = envCpus,
                   warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.extensions",
        classOf[graft.plans.GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
    warehouseDir.foreach(b.config("spark.sql.warehouse.dir", _))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
