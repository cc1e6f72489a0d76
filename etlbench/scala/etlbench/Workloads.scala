package etlbench

/** One timed step of a workload: a registered query, delivered either to
  * the digest sink or, for an export stage, as a parquet target written
  * through `Incremental.materialize`.
  */
final case class Step(query: String, export: Boolean = false)

/** The workloads. Each is one closed loop: a pass runs its steps in
  * order, one at a time, from the single driver thread.
  */
object Workloads {

  /** Eviction Lab reference DAG: GEOID joins → weighted rates → long→wide
    * pivot → per-year rank/top-N → shard merge. The export stages write
    * parquet targets.
    */
  val etlDag: Seq[Step] = Seq(
    Step("q_join_multiway_star"), Step("q_agg_weighted_rate"),
    Step("q_agg_pivot", export = true),
    Step("q_win_rank_topn", export = true),
    Step("q_union_shards", export = true))

  /** LLM data curation over lengthened documents: char kernels, eager
    * pins, and a store built on the cold pass and read on warm passes.
    */
  val llmCuration: Seq[Step] = Seq(
    "q_text_strip_markup", "q_text_pii_mask", "q_text_winnowing",
    "q_dedup_cdc_chunks", "q_dedup_minhash_lsh", "q_corpus_curate")
    .map(Step(_))

  val all: Map[String, Seq[Step]] = Map(
    "etl_dag" -> etlDag,
    "llm_curation" -> llmCuration)

  /** Input tables an export target depends on (its make prerequisites). */
  val exportInputs: Seq[String] = Seq("lineitem", "orders", "customer",
    "supplier", "part", "nation", "region")
}
