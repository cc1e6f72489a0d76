package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-rehearsal corpus generator (committed this time — the r11
  * rehearsal's generator was ad hoc and its output evaporated with /tmp).
  * Replicates the sf0.1 facts into a clone-degenerate 10× corpus:
  *  - lineitem ×10 with l_orderkey/l_partkey/l_suppkey offset per replica
  *    (the part–supplier graph genuinely grows 10×);
  *  - documents ×10 with doc_id offsets (every doc gains 9 exact clones —
  *    the dup-heavy-crawl worst case for pair generation);
  *  - embeddings ×5 with vec_id offsets (25× pairs);
  *  - other tables copied 1× (queries reading only those scale ~1× by
  *    construction — mark them when reporting).
  * Each replicated table lands as a multi-file parquet DIRECTORY so scans
  * get real file parallelism.
  * Usage: runMain graft.ScaleGen <src> <out> [docMult] [lineMult] [embMult]
  * — the optional multipliers (default 10/10/5) are the r20 extension for
  * rehearsing the shuffle-mass family beyond 10× (the "plans you'd want
  * at 100×" bar): ×30 documents stresses ppjoin/jaccard pair exchanges at
  * ~9× the candidate mass, ×30 lineitem the graph family's wedge fan-out.
  */
object ScaleGen {

  /** Symlink every fixture table but `table` from `src` into `out`, for
    * generators that rewrite one table and leave the rest as they are.
    * A link to another target is replaced. The target is absolute and
    * normalized: a relative `src` would otherwise be resolved relative
    * to `out` at read time and dangle (ADVICE r17).
    */
  def linkOtherTables(src: String, out: String, table: String): Unit =
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
      "region", "events", "documents", "embeddings")
      .filter(_ != table).foreach { t =>
        val link = java.nio.file.Paths.get(out, s"$t.parquet")
        val target = java.nio.file.Paths.get(src, s"$t.parquet")
          .toAbsolutePath.normalize
        val stale = java.nio.file.Files.isSymbolicLink(link) &&
          java.nio.file.Files.readSymbolicLink(link) != target
        if (stale) java.nio.file.Files.delete(link)
        if (stale || !java.nio.file.Files.exists(link,
            java.nio.file.LinkOption.NOFOLLOW_LINKS))
          java.nio.file.Files.createSymbolicLink(link, target)
      }

  def main(args: Array[String]): Unit = {
    val (src, out) = (args(0), args(1))
    val docMult = if (args.length > 2) args(2).toInt else 10
    val lineMult = if (args.length > 3) args(3).toInt else 10
    val embMult = if (args.length > 4) args(4).toInt else 5
    val spark = SparkEntry.localSession()

    def replicate(table: String, copies: Int, keys: Seq[String]): Unit = {
      val df = spark.read.parquet(s"$src/$table.parquet")
      val offs = keys.map { k =>
        k -> (df.agg(max(col(k))).collect()(0).getLong(0) + 1L)
      }
      val parts = (0 until copies).map { i =>
        offs.foldLeft(df) { case (d, (k, off)) =>
          d.withColumn(k, col(k) + lit(i * off))
        }
      }
      parts.reduce(_.unionAll(_))
        .repartition(copies)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[scalegen] $table x$copies done")
    }
    def copy(table: String): Unit = {
      spark.read.parquet(s"$src/$table.parquet")
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[scalegen] $table x1 copied")
    }

    replicate("lineitem", lineMult,
      Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("documents", docMult, Seq("doc_id"))
    replicate("embeddings", embMult, Seq("vec_id"))
    Seq("orders", "customer", "supplier", "part", "nation", "region",
      "events").foreach(copy)
    spark.stop()
  }
}

/** LARGE-N EMBEDDINGS rehearsal corpus — the ANN axis every other
  * generator under-scales: the sf0.1 store is 2 000 vectors (dim 64,
  * components ~N(0, 0.125), norm ≈ 1), where O(N²) brute force is
  * trivially unbeatable and no crossover can be observed. This one
  * replicates ×`copies` (default 50 → 100 000 vectors) with vec_id
  * offsets and a DETERMINISTIC per-component jitter of ±eps (default
  * 0.02, hash-driven — xxhash64(vec_id, dim, replica), no RNG state):
  * replica 0 keeps the original vectors bit-exact, replicas 1..k form a
  * tight cluster around each original. With eps = 0.02 at dim 64 the
  * intra-cluster cosine concentrates at ≈ 0.984-0.999 (≥ 0.95 with
  * margin) while inter-cluster stays at the source corpus's ≤ ~0.55 —
  * so the 0.95-threshold near-dup TRUTH is exactly the intra-cluster
  * pair set, a CONSTRUCTED ground truth that lets recall be measured at
  * an N where the brute-force leg costs minutes, not milliseconds.
  * Non-embedding tables are symlinked (the ANN family reads only
  * embeddings). Usage: runMain graft.ScaleGenEmbed <src> <out>
  * [copies] [eps]
  */
object ScaleGenEmbed {

  /** The ×copies jittered replication itself, reusable (DedupRecallSpec
    * pins the tuned LSH band shapes against a smoke-scale instance of
    * the SAME construction the 10⁵ rehearsal used): replica 0 keeps the
    * source vectors bit-exact; replica rep > 0 adds ±eps uniform per
    * component from the non-negative residue of a 3-ary xxhash64 — a
    * pure function of (base id, dim, replica), no RNG state.
    */
  def jitterReplicate(df: DataFrame, copies: Int, eps: Double): DataFrame = {
    val off = df.agg(max(col("vec_id"))).collect()(0).getLong(0) + 1L
    val parts = (0 until copies).map { rep =>
      val jittered =
        if (rep == 0) df.select("vec_id", "embedding", "label")
        else df.select(col("vec_id"),
          expr(s"""transform(embedding, (x, i) -> CAST(x + $eps *
                   ((CAST(((xxhash64(vec_id, i, $rep) % 2001) + 2001)
                          % 2001 AS DOUBLE)) / 1000.0 - 1.0) AS FLOAT))""")
            .as("embedding"),
          col("label"))
      jittered.withColumn("vec_id", col("vec_id") + lit(rep * off))
    }
    parts.reduce(_.unionAll(_))
  }

  def main(args: Array[String]): Unit = {
    val (src, out) = (args(0), args(1))
    val copies = if (args.length > 2) args(2).toInt else 50
    val eps = if (args.length > 3) args(3).toDouble else 0.02
    val spark = SparkEntry.localSession()
    val df = spark.read.parquet(s"$src/embeddings.parquet")
    jitterReplicate(df, copies, eps)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    println(s"[scalegen-embed] embeddings x$copies (eps=$eps) done")
    ScaleGen.linkOtherTables(src, out, "embeddings")
    spark.stop()
  }
}

/** ALL-DISTINCT high-overlap rehearsal corpus — the OTHER PPJoin
  * degeneracy (r14 rehearsed clone-degenerate, where exact-dup collapse
  * wins; here collapse buys NOTHING): no two docs share a text, yet
  * every doc carries a GLOBAL 12-token template block (its shingles hit
  * df = N — a naive postings join explodes quadratically on those
  * buckets) plus an 18-token cluster block shared by its 20-doc cluster
  * (intra-cluster J ≈ 0.82 ≥ τ — the true positives) plus 3 unique
  * tokens (no exact dups, distinct prefixes). Cross-cluster J ≈ 0.19 <
  * τ = 0.5, so the CORRECT output is exactly the 190 intra-cluster
  * pairs per cluster — linear in N — and df-ascending prefixes must
  * carry the whole filter: template shingles sort LAST and never enter
  * a prefix, cluster shingles (df = 20) dominate it, bounding candidate
  * buckets at cluster size by construction. Usage:
  * runMain graft.ScaleGenOverlap <outDir> <nDocs>
  */
object ScaleGenOverlap {
  def main(args: Array[String]): Unit = {
    val (out, nDocs) = (args(0), args(1).toInt)
    val spark = SparkEntry.localSession()
    import spark.implicits._
    // 16 source slices whatever the core count: the round-robin
    // repartition below places rows by source slice
    spark.range(0L, nDocs.toLong, 1L, 16).map { id =>
      val c = id / 20
      val unique = (0 until 3).map(k => s"u${id}x$k")
      val cluster = (0 until 18).map(k => s"c${c}t$k")
      val template = (0 until 12).map(k => s"gtmpl$k")
      val text = (unique ++ cluster ++ template).mkString(" ")
      (id, text, "en", "overlap", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(16)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"[scalegen-overlap] $nDocs all-distinct high-overlap docs")
    spark.stop()
  }
}

/** LONG-DOCUMENT degeneracy corpus — the rehearsal axis every other
  * generator misses: all of them multiply doc COUNT; this one multiplies
  * doc LENGTH (×`mult`, default 50) at FIXED corpus count. Any operator
  * whose cost is super-linear in document length (per-char window
  * shuffles, boundary quadratics, full-text-through-exchange plans) is
  * linear on the count axis and invisible there — the r15
  * cdc_chunks/winnowing demerits were exactly this blind spot. Each
  * repetition is suffixed with a distinct marker token so rolling
  * hashes/shingles do NOT collapse to one periodic chunk set (that would
  * understate per-doc work); doc count, language and source mix are
  * preserved so group-by shapes stay identical to the source corpus.
  * Usage: runMain graft.ScaleGenLongDocs <srcSfDir> <outDir> [mult]
  */
object ScaleGenLongDocs {

  /** Generate the ×mult documents table into `out`; non-document tables
    * are SYMLINKED (the char-level family reads only documents — a copy
    * would just burn the sweep's I/O budget). Invoked by Bench every
    * sweep (regenerate-if-absent) so the axis is STANDING (r16 verdict
    * #6), not a one-off hand run.
    */
  def generate(spark: SparkSession, src: String, out: String,
               mult: Int): Unit = {
    spark.read.parquet(s"$src/documents.parquet")
      .withColumn("text", expr(
        s"concat_ws(' ', transform(sequence(0, ${mult - 1}), k ->" +
          " concat(text, ' m', CAST(k AS STRING))))"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(16)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    ScaleGen.linkOtherTables(src, out, "documents")
  }

  def main(args: Array[String]): Unit = {
    val (src, out) = (args(0), args(1))
    val mult = if (args.length > 2) args(2).toInt else 50
    val spark = SparkEntry.localSession()
    generate(spark, src, out, mult)
    println(s"[scalegen-longdocs] doc length x$mult at fixed count")
    spark.stop()
  }
}
