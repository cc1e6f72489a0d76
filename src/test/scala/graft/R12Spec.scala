package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-12 pins: BPE merge-application semantics (q_bpe_encode's fold),
  * beyond the DuckDB hash parity the driver already checks.
  */
class R12Spec extends AnyFunSuite with SparkFixture {

  private def encode(tokens: Seq[String], merges: Seq[String]): String = {
    val s = spark
    import s.implicits._
    val df = Seq((tokens, merges)).toDF("toks", "merges")
      .withColumn("s0",
        concat(lit("["), array_join(col("toks"), "]["), lit("]")))
      .withColumn("e", graft.operators.Llm.bpeFold("s0", "merges"))
      .select(expr("trim(BOTH '[]' FROM replace(e, '][', ' '))"))
    df.collect()(0).getString(0)
  }

  test("adjacent run merges greedily leftmost-first (even run)") {
    assert(encode(Seq("a", "a", "a", "a"), Seq("a|a")) === "aa aa")
  }

  test("odd run leaves a trailing singleton (BPE greedy semantics)") {
    assert(encode(Seq("a", "a", "a"), Seq("a|a")) === "aa a")
  }

  test("rules apply in rank order; later rule sees earlier rule's output") {
    // rank 1 builds 'thecat'; rank 2 references the merged surface form
    assert(encode(Seq("the", "cat", "sat"), Seq("the|cat", "thecat|sat"))
      === "thecatsat")
    // reversed priority: 'thecat|sat' finds nothing before 'the|cat' runs
    assert(encode(Seq("the", "cat", "sat"), Seq("thecat|sat", "the|cat"))
      === "thecat sat")
  }

  test("no cross-token substring matches (delimiters carry boundaries)") {
    // 'a b' must not match inside 'aa bb'
    assert(encode(Seq("aa", "bb"), Seq("a|b")) === "aa bb")
  }

  test("token counts drop by exactly the number of applied merges") {
    val out = encode(Seq("x", "y", "x", "y", "z"), Seq("x|y"))
    assert(out === "xy xy z")
  }

  test("saltedLeftJoin is row-identical to the plain left join") {
    val s = spark
    import s.implicits._
    // hot key 1 (5 rows), unmatched keys 3 & 4 — exercises both the skew
    // spread and the null-preserving outer class
    val big = Seq((1L, "a"), (1L, "b"), (1L, "c"), (1L, "d"), (1L, "e"),
      (2L, "f"), (3L, "g"), (4L, "h")).toDF("k", "v")
    val dim = Seq((1L, "x"), (1L, "y"), (2L, "z")).toDF("dk", "dv")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "v", "dk", "dv").collect()
        .map(r => (r.getLong(0), r.getString(1),
          Option(r.get(2)), Option(r.get(3))))
        .sortBy(_.toString)
    val salted = canon(graft.operators.Skew.saltedLeftJoin(
      big, dim, "k", "dk", salts = 4))
    val plain = canon(big.join(dim, col("k") === col("dk"), "left"))
    assert(salted.toSeq == plain.toSeq)
    // the outer class survived: keys 3 and 4 present with null dim side
    assert(plain.count(_._3.isEmpty) == 2)
  }

  test("null-safe join plans as a hash join, not a nested loop") {
    val plan = graft.operators.Relational.qJoinNullSafe.fn(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected an equi-join physical op for EqualNullSafe:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"EqualNullSafe degraded to a nested loop:\n$plan")
  }

  test("bpe train round 1 equals the single-pass counter's top pair") {
    val trained = graft.operators.Llm.qBpeTrain.fn(spark, sfDir).collect()
    assert(trained.length == 3)
    assert(trained.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(trained.forall(_.getLong(3) > 0))
    // round 1 must agree with q_bpe_pair_counts' rank-1 row: the trainer
    // IS the counter iterated, so their first argmax is shared
    val counted = graft.operators.Llm.qBpePairCounts.fn(spark, sfDir)
      .limit(1).collect()(0)
    assert((trained(0).getString(1), trained(0).getString(2)) ===
      (counted.getString(0), counted.getString(1)))
  }

  test("beam search reuses its materialized kNN graph store on re-run") {
    graft.operators.Llm.qSimGraphBeam.fn(spark, sfDir).count()
    val store = new java.io.File(
      graft.sources.SourcesSinks.dirKeyedTempPath(spark, sfDir, "knn_graph"),
      "_SUCCESS")
    assert(store.exists, "store was not materialized")
    val mtime = store.lastModified
    graft.operators.Llm.qSimGraphBeam.fn(spark, sfDir).count()
    assert(store.lastModified == mtime,
      "second invocation rebuilt the kNN graph store (reuse seam broken)")
  }

  test("graph beam search: recall@3 >= 0.8 vs brute-force truth") {
    import org.apache.spark.sql.expressions.Window
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
      .withColumn("ns", expr("vec_dot(embedding, embedding)"))
    val nodes = emb.where(col("vec_id") < 400)
      .select(col("vec_id").as("node"), col("embedding").as("nv"),
        col("ns").as("nns"))
    val probes = emb.where(col("vec_id") >= 400 && col("vec_id") < 410)
      .select(col("vec_id").as("probe"), col("embedding").as("pv"),
        col("ns").as("pns"))
    val truth = probes.crossJoin(broadcast(nodes))
      .withColumn("score", round(
        expr("vec_dot(pv, nv)") / (sqrt(col("pns")) * sqrt(col("nns"))), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy("probe").orderBy(col("score").desc, col("node"))))
      .where(col("rn") <= 3)
      .select("probe", "node").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val beam = graft.operators.Llm.qSimGraphBeam.fn(spark, sfDir)
      .select("probe", "node").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "vacuous fixture")
    val recall = truth.intersect(beam).size.toDouble / truth.size
    assert(recall >= 0.8,
      f"beam search recall@3 $recall%.2f below 0.8 floor " +
        "(graph navigability regressed)")
  }
}
