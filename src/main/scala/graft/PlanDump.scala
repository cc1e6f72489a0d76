package graft

// Optimization-round tooling: dump `.explain("formatted")` for named
// queries to plans/<round>/<query>_<suffix>.txt so plan-shape claims
// (Exchange count, join strategy, PushedFilters) are committed evidence,
// not prose. Usage: runMain graft.PlanDump <outdir> <suffix> [query...];
// no query names dumps every registered query, in name order.
// Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS (same contract as Bench).
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2).toSeq match {
      case Seq() => SparkEntry.queries.keys.toSeq.sorted
      case given => given
    }
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
    * JVM-wide counters in `[plan_id=2731]` and in expression ids
    * (`a#14335L`), a lambda's class number and an object's identity hash
    * (`Multimodal$$$Lambda$7204/0x00007f1e9d8fdac0@15b5cc2e` becomes
    * `Multimodal$$$Lambda@_`), the random names of a manifest table's data
    * files, the session's warehouse directory (`<warehouse>`) and its temp
    * directory (`<session>`). All of these differ between two runs of the
    * same code and input.
    */
  def normalize(plan: String, warehouse: String, sessionDir: String): String =
    plan.replace(warehouse, "<warehouse>").replace(sessionDir, "<session>")
      .replaceAll("""(\w+RDD)\[\d+\] at (\w+) at ([\w$]+\.scala):\d+""",
        "$1[_] at $2 at $3")
      .replaceAll("""\[plan_id=\d+\]""", "[plan_id=_]")
      .replaceAll("""#\d+""", "#_")
      .replaceAll("""(\$\$Lambda)\$\d+/0x\p{XDigit}+""", "$1")
      .replaceAll("""((?:\w+\.)+[\w$]+)@\p{XDigit}+""", "$1@_")
      .replaceAll("""\p{XDigit}{8}(-\p{XDigit}{4}){3}-\p{XDigit}{12}""",
        "<uuid>")
      .replaceAll("""/c\p{XDigit}{8}-\p{XDigit}{3}/""", "/c<token>/")
}
