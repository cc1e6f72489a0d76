package etlbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Per-kernel micro timing of the Catalyst expressions that
  * `VectorFunctions.register` exposes, over the llm_curation corpus.
  *
  * Each kernel's input column is cached first, repeated `Copies` times so
  * that one timing is long against the per-job overhead. A kernel's cost is the
  * noop-sink time of projecting the kernel minus that of projecting its
  * input column alone, median of alternating repetitions, divided by the
  * bytes (text kernels) or rows (array kernels) it consumed.
  */
object Kernels {
  val Reps = 5
  val Copies = 8

  private def noop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0).toDouble
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Kernel minus baseline, in ns, for one cached input. */
  private def delta(in: DataFrame, kernel: Column, base: Seq[Column]): Double = {
    noop(in.select(kernel)); noop(in.select(base: _*))
    val (k, b) = (1 to Reps).map { _ =>
      (noop(in.select(kernel)), noop(in.select(base: _*)))
    }.unzip
    math.max(0.0, median(k) - median(b))
  }

  private def cached(df: DataFrame, copies: Int = Copies): DataFrame = {
    val c = df.crossJoin(df.sparkSession.range(copies).hint("broadcast"))
      .drop("id").persist(StorageLevel.MEMORY_ONLY)
    c.write.format("noop").mode("overwrite").save()
    c
  }

  def time(spark: SparkSession, inputs: String): Map[String, Any] = {
    val docs = cached(graft.sources.Tables.documents(spark, inputs)
      .select(col("text"), split(col("text"), " ").as("toks")))
    val bytes = docs.agg(sum(length(col("text")))).first().getLong(0).toDouble
    val textKernels = Seq("winnow_fps" -> "text", "cdc_chunks" -> "text",
      "shingle_xxh64_set" -> "toks", "shingle_md5p60_set" -> "toks").map {
      case (k, in) => s"plans.$k.ns_per_byte" ->
        delta(docs, expr(s"$k($in)"), Seq(col(in))) / bytes
    }

    val shingles = cached(docs.select(
      expr("shingle_md5p32_set(toks)").as("sh")).where(size(col("sh")) > 0),
      copies = 1)
    val nDocs = shingles.count().toDouble
    val ab = (0 until 64).map(k => ((2L * k + 1) * 40503L, 7919L * k + 11L))
    val sigs = graft.plans.VectorFunctions.registerMinhashSigs(
      spark, ab.map(_._1), ab.map(_._2), 4294967311L)
    val minhash = delta(shingles, expr(s"$sigs(sh)"), Seq(col("sh"))) / nDocs

    val rnd = new scala.util.Random(7L)
    val rows = 4
    val keysFn = graft.plans.VectorFunctions.registerLshKeys(spark,
      Seq.fill(16 * rows)(Seq.fill(64)(rnd.nextGaussian())), rows)
    val base = graft.sources.Tables.embeddings(spark, inputs)
      .select(col("vec_id"), col("embedding"))
    val emb = cached(base)
    val nEmb = emb.count().toDouble
    val vecDot = delta(emb, expr("vec_dot(embedding, embedding)"),
      Seq(col("embedding"))) / nEmb
    val keys = base.select(col("vec_id"), expr(s"$keysFn(embedding)").as("k"))
    val pairs = cached(keys.as("x").join(keys.as("y"),
      col("y.vec_id") === col("x.vec_id") + 1)
      .select(col("x.k").as("ka"), col("y.k").as("kb")))
    val nPairs = pairs.count().toDouble
    val bands = delta(pairs, expr("band_prefix_collides(ka, kb, 16)"),
      Seq(col("ka"), col("kb"))) / nPairs

    Seq(docs, shingles, emb, pairs).foreach(_.unpersist(blocking = true))
    (textKernels ++ Seq(
      "plans.minhash_sigs.ns_per_row" -> minhash,
      "plans.vec_dot.ns_per_row" -> vecDot,
      "plans.band_prefix_collides.ns_per_row" -> bands)).toMap
  }
}
