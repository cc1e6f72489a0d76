package graft

// Optimization-round tooling: dump `.explain("formatted")` for named
// queries to plans/<round>/<query>_<suffix>.txt so plan-shape claims
// (Exchange count, join strategy, PushedFilters) are committed evidence,
// not prose. Usage: runMain graft.PlanDump <outdir> <suffix> <query...>
// Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS (same contract as Bench).
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = SparkEntry.envSfDir
    val spark = SparkEntry.localSession()
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val sessionDir = graft.sources.SourcesSinks.sessionTempDir(spark).toString
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      val txt =
        try normalize(fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode), warehouse, sessionDir)
        catch { case e: Throwable => s"EXPLAIN FAILED: $e" }
      java.nio.file.Files.write(outDir.resolve(s"${n}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote ${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }

  /** The plan text without what is not plan shape, so dumps from two
    * checkouts or two runs compare byte for byte: an RDD's id and creation
    * site (`MapPartitionsRDD[29] at localCheckpoint at Llm.scala:1349`
    * becomes `MapPartitionsRDD[_] at localCheckpoint at Llm.scala`), the
    * JVM-wide plan-node counter in `[plan_id=2731]` (it differs between two
    * runs of the same code and input), the session's warehouse
    * directory (`<warehouse>`) and its temp directory (`<session>`).
    */
  def normalize(plan: String, warehouse: String, sessionDir: String): String =
    plan.replace(warehouse, "<warehouse>").replace(sessionDir, "<session>")
      .replaceAll("""(\w+RDD)\[\d+\] at (\w+) at ([\w$]+\.scala):\d+""",
        "$1[_] at $2 at $3")
      .replaceAll("""\[plan_id=\d+\]""", "[plan_id=_]")
}
