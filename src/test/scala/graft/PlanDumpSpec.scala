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
        |Arguments: [cls#_, tok#_], MapPartitionsRDD[_] at localCheckpoint at Llm.scala, ExistingRDD
        |(7) Scan parquet spark_catalog.default.graft_pr_und_ddbe14
        |Location: InMemoryFileIndex [<warehouse>/graft_pr_und_ddbe14]
        |Location: InMemoryFileIndex [file:<session>/jaccard_pairs_cfc1]
        |Arguments: hashpartitioning(doc_id#_L, 4), ENSURE_REQUIREMENTS, [plan_id=_]
        |Location: InMemoryFileIndex [file:/data/sf0.1/lineitem.parquet]""".stripMargin)
  }

  test("normalize drops expression ids, lambda class numbers, identity " +
      "hashes and a manifest table's random file names") {
    // each pair is one line as two runs of the same code dumped it
    val runs = Seq(
      "Output [1]: [a#14335L AS node#14339L]" ->
        "Output [1]: [a#14331L AS node#14335L]",
      "Arguments: graft.operators.Multimodal$$$Lambda$7204/0x00007f1e9d8fdac0@15b5cc2e, obj#25623" ->
        "Arguments: graft.operators.Multimodal$$$Lambda$7195/0x00007f0781905ac0@68347dec, obj#25623",
      "Functions [1]: [weightedrateagg(l_extendedprice#34006, graft.functions.Udx$WeightedRateAgg@6a85159e, true)]" ->
        "Functions [1]: [weightedrateagg(l_extendedprice#34006, graft.functions.Udx$WeightedRateAgg@2a65bf69, true)]",
      "Location: InMemoryFileIndex [file:/s/t/data/c27e3f329-39f/part-00000-9984f46c-2e7a-429a-abf6-d1d3a4f0248f-c000.snappy.parquet]" ->
        "Location: InMemoryFileIndex [file:/s/t/data/c6976e0cc-8b9/part-00000-a0aad4f2-6c8f-47f5-90aa-6880773e2537-c000.snappy.parquet]")
    def norm(plan: String) = PlanDump.normalize(plan, "/wh", "/tmp/sess")
    runs.foreach { case (a, b) => assert(norm(a) == norm(b)) }
    assert(norm(runs(1)._1) ==
      "Arguments: graft.operators.Multimodal$$$Lambda@_, obj#_")
    assert(norm(runs(3)._1) ==
      "Location: InMemoryFileIndex [file:/s/t/data/c<token>/part-00000-<uuid>-c000.snappy.parquet]")
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
