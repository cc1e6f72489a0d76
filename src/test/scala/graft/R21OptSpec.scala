package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r21 optimization round: the native char-level kernels must be
  * value-identical to the expr() formulations they replaced, and the
  * ppjoin candidate filters must not change its output.
  */
class R21OptSpec extends AnyFunSuite with SparkFixture {

  private def docsPlus = {
    // real corpus docs plus adversarial edges: empty text, single char,
    // 7 chars (below one full window), exactly 8, and a text whose
    // window hash can hit the mod-64 boundary repeatedly. Edge ids are
    // derived from max(doc_id) + 1 so a larger test scale factor can
    // never collide them with real corpus ids (ADVICE r21).
    val real = sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val base = real.agg(max(col("doc_id"))).head.getLong(0) + 1
    val edges = spark.createDataFrame(Seq(
      (base, ""), (base + 1, "a"), (base + 2, "abcdefg"),
      (base + 3, "abcdefgh"), (base + 4, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),
      (base + 5, "the quick brown fox jumps over the lazy dog " * 20)))
      .toDF("doc_id", "text")
    real.union(edges)
  }

  test("WinnowFingerprints matches the replaced expr() chain as a set") {
    val h8 = s"struct(${graft.Det.sparkRollAt("cd", "i", 8)} AS h, i AS i)"
    val hsE = s"transform(sequence(1, greatest(size(cd) - 7, 1))," +
      s" i -> $h8)"
    val fpsE = "flatten(transform(" +
      "array(transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT)))," +
      s" cd -> flatten(transform(array($hsE)," +
      " hs -> array_distinct(transform(sequence(1, size(hs))," +
      " j -> least(try_element_at(hs, j), try_element_at(hs, j + 1)," +
      " try_element_at(hs, j + 2), try_element_at(hs, j + 3)).h))))))"
    val cmp = docsPlus
      .select(col("doc_id"),
        array_sort(expr(fpsE)).as("old"),
        expr("winnow_fps(text)").as("nw"))
      .where(not(col("old") <=> col("nw")))
    assert(cmp.count() === 0, "winnow_fps diverged from the expr() chain")
  }

  test("CdcChunks matches the replaced expr() chain exactly") {
    val h8 = graft.Det.sparkRollAt("cd", "i", 8)
    val stsE = "filter(sequence(1, greatest(size(cd) - 7, 1))," +
      s" i -> i = 1 OR pmod($h8, 64) = 0)"
    val zipE = "zip_with(sts, concat(slice(sts, 2," +
      " greatest(size(sts) - 1, 0)), array(size(cs) + 1))," +
      " (st, nxt) -> struct(md5(concat_ws('', slice(cs, st," +
      " nxt - st))) AS ch, nxt - st AS clen))"
    val perDoc = "flatten(transform(array(split(text, ''))," +
      " cs -> flatten(transform(" +
      "array(transform(cs, c -> CAST(ascii(c) AS BIGINT)))," +
      s" cd -> flatten(transform(array($stsE), sts -> $zipE))))))"
    val cmp = docsPlus
      .select(col("doc_id"),
        expr(perDoc).as("old"), expr("cdc_chunks(text)").as("nw"))
      .where(not(col("old") <=> col("nw")))
    assert(cmp.count() === 0, "cdc_chunks diverged from the expr() chain")
  }

  test("ShingleXxh64Set matches explode+xxhash64+distinct") {
    val old = operators.Llm.shinglesWithPos(docsPlus)
      .select(col("doc_id"), xxhash64(col("shingle")).as("h")).distinct()
      .groupBy("doc_id").agg(sort_array(collect_list(col("h"))).as("old"))
    val nw = docsPlus
      .select(col("doc_id"),
        expr("shingle_xxh64_set(split(text, ' '))").as("nw"))
      .where(size(col("nw")) > 0)
    val joined = old.join(nw, Seq("doc_id"), "full")
      .where(not(col("old") <=> col("nw")))
    assert(joined.count() === 0, "shingle_xxh64_set diverged")
  }

  test("ShingleMd5Set matches shingleSets+pHash60 sorted multiset") {
    val old = operators.Llm.shingleSets(docsPlus)
      .withColumn("h", Det.pHash60(col("shingle")))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("h"))).as("old"))
    val nw = docsPlus
      .select(col("doc_id"),
        expr("shingle_md5p60_set(split(text, ' '))").as("nw"))
      .where(size(col("nw")) > 0)
    val joined = old.join(nw, Seq("doc_id"), "full")
      .where(not(col("old") <=> col("nw")))
    assert(joined.count() === 0, "shingle_md5p60_set diverged")
  }

  test("ShingleMd5Set p32 variant matches shingleSets+pHash32") {
    val old = operators.Llm.shingleSets(docsPlus)
      .withColumn("h", Det.pHash32(col("shingle")))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("h"))).as("old"))
    val nw = docsPlus
      .select(col("doc_id"),
        expr("shingle_md5p32_set(split(text, ' '))").as("nw"))
      .where(size(col("nw")) > 0)
    val joined = old.join(nw, Seq("doc_id"), "full")
      .where(not(col("old") <=> col("nw")))
    assert(joined.count() === 0, "shingle_md5p32_set diverged")
  }

  test("MinhashSigs matches the min((a*h+b)%p) aggregates") {
    val p = 4294967311L
    val ab = (0 until 16).map { i =>
      import org.apache.spark.sql.catalyst.expressions.XXH64
      def pos(h: Long): Long = h & Long.MaxValue
      (pos(XXH64.hashLong(i.toLong, 7L)) % (1L << 30) + 1L,
        pos(XXH64.hashLong(i.toLong, 13L)) % p)
    }
    val fn = graft.plans.VectorFunctions.registerMinhashSigs(
      spark, ab.map(_._1), ab.map(_._2), p)
    val sh = docsPlus.select(col("doc_id"), explode(
      expr("shingle_md5p32_set(split(text, ' '))")).as("h"))
    val oldSigs = sh.groupBy("doc_id").agg(
      array(ab.map { case (a, b) =>
        min(expr(s"(${a}L * h + ${b}L) % ${p}L"))
      }: _*).as("old"))
    val nw = docsPlus
      .select(col("doc_id"),
        expr("shingle_md5p32_set(split(text, ' '))").as("hs"))
      .where(size(col("hs")) > 0)
      .select(col("doc_id"), expr(s"$fn(hs)").as("nw"))
    val joined = oldSigs.join(nw, Seq("doc_id"), "full")
      .where(not(col("old") <=> col("nw")))
    assert(joined.count() === 0, "minhash_sigs diverged")
  }

  test("ppjoin candidate filters drop no qualifying pair (vs naive truth)") {
    // q_dedup_jaccard_pairs is the uncapped all-pairs truth; ppjoin with
    // the r21 length+positional filters must still match it row-for-row
    val pp = SparkEntry.queries("q_dedup_ppjoin")(spark, sfDir)
    val truth = SparkEntry.queries("q_dedup_jaccard_pairs")(spark, sfDir)
    assert(pp.exceptAll(truth).count() === 0)
    assert(truth.exceptAll(pp).count() === 0)
  }
}
