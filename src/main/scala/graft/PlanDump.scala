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
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      val txt =
        try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"EXPLAIN FAILED: $e" }
      java.nio.file.Files.write(outDir.resolve(s"${n}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote ${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
