package graft

import org.scalatest.funsuite.AnyFunSuite

/** PlanDump writes plan text that compares across checkouts and runs. */
class PlanDumpSpec extends AnyFunSuite {

  test("normalize drops RDD ids, call-site lines, plan ids and the " +
      "session's directories") {
    val plan =
      """(3) Scan ExistingRDD [codegen id : 1]
        |Arguments: [cls#978, tok#971], MapPartitionsRDD[115] at localCheckpoint at Llm.scala:4704, ExistingRDD
        |(7) Scan parquet spark_catalog.default.graft_pr_und_ddbe14
        |Location: InMemoryFileIndex [file:/srv/a/spark-warehouse/graft_pr_und_ddbe14]
        |Location: InMemoryFileIndex [file:/tmp/graft_session_963/jaccard_pairs_cfc1]
        |Arguments: hashpartitioning(doc_id#564L, 4), ENSURE_REQUIREMENTS, [plan_id=2731]
        |Location: InMemoryFileIndex [file:/data/sf0.1/lineitem.parquet]""".stripMargin
    assert(PlanDump.normalize(plan, "file:/srv/a/spark-warehouse",
      "/tmp/graft_session_963") ==
      """(3) Scan ExistingRDD [codegen id : 1]
        |Arguments: [cls#978, tok#971], MapPartitionsRDD[_] at localCheckpoint at Llm.scala, ExistingRDD
        |(7) Scan parquet spark_catalog.default.graft_pr_und_ddbe14
        |Location: InMemoryFileIndex [<warehouse>/graft_pr_und_ddbe14]
        |Location: InMemoryFileIndex [file:<session>/jaccard_pairs_cfc1]
        |Arguments: hashpartitioning(doc_id#564L, 4), ENSURE_REQUIREMENTS, [plan_id=_]
        |Location: InMemoryFileIndex [file:/data/sf0.1/lineitem.parquet]""".stripMargin)
  }

  test("normalize maps two checkouts' dumps of one plan to the same text") {
    def dump(dir: String, line: Int) =
      s"MapPartitionsRDD[${line % 97}] at localCheckpoint at Graph.scala:$line, " +
        s"InMemoryFileIndex [file:$dir/spark-warehouse/t], " +
        s"InMemoryFileIndex [file:$dir/tmp/graft_session_$line/p], [plan_id=$line]"
    assert(PlanDump.normalize(dump("/a", 302), "file:/a/spark-warehouse",
      "/a/tmp/graft_session_302") ==
      PlanDump.normalize(dump("/b/c", 298), "file:/b/c/spark-warehouse",
        "/b/c/tmp/graft_session_298"))
  }
}
