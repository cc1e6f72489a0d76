package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session policy of SparkEntry.localSession, as the test fixture
  * builds it: the pins hold without any JVM system property, and the
  * engine's functions resolve in every session without registration.
  */
class LocalSessionSpec extends AnyFunSuite with SparkFixture {

  test("the shared local session pins UTC, disables the UI and runs 4 " +
      "shuffle partitions on local[4]") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
  }

  test("GraftExtensions injects exactly the fixed functions, and a " +
      "newSession() child resolves each with no register call") {
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    val child = spark.newSession()
    val names = graft.plans.VectorFunctions.fixed.map(_._1)
    val injected = child.sessionState.functionRegistry.listFunction()
      .map(_.funcName).toSet -- FunctionRegistry.builtin.listFunction()
      .map(_.funcName)
    assert(injected == names.toSet)
    assert(names.distinct.size == names.size)
    names.foreach(n => assert(child.catalog.functionExists(n), n))
    assert(child.range(1).selectExpr(
      "vec_dot(array(CAST(id + 2 AS DOUBLE)), array(3D))").head
      .getDouble(0) == 6.0)
    assert(child.conf.get("spark.sql.ansi.enabled") == "true")
  }

  test("the generated-class cache holds 150 distinct projections: a " +
      "second round compiles nothing") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val session = spark // built first: building it sizes the cache
    assert(graft.plans.GraftExtensions.sizedCodegenCache,
      "code was compiled before the first session, so the cache kept " +
        "Spark's default size")
    // each literal is inlined, so every projection is a distinct class
    def round(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      (1 to 150).foreach(i =>
        session.range(8).selectExpr(s"id * $i + 7919").collect())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    assert(round() >= 150)
    assert(round() == 0)
  }
}
