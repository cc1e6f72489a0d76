package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session policy of SparkEntry.localSession, as the test fixture
  * builds it: the pins hold without any JVM system property.
  */
class LocalSessionSpec extends AnyFunSuite with SparkFixture {

  test("the shared local session pins UTC, disables the UI and runs 4 " +
      "shuffle partitions on local[4]") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.master == "local[4]")
  }
}
