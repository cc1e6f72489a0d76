package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.{Graph, Layout, Llm}
import graft.sources.Tables

/** Degenerate-input robustness: a 100 TB pipeline WILL meet an empty
  * partition, an empty day, a single-row table — operators must return
  * empty/identity results, not throw. (The sequence() guard in
  * shinglesWithPos exists exactly because Spark generates DESCENDING
  * sequences for n < 1; these tests keep that class of edge pinned.)
  */
class EdgeCaseSpec extends AnyFunSuite with SparkFixture {

  private def emptyDocs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[Row], Tables.documentsSchema)

  private def docsOf(rows: (Long, String)*) = {
    val data = rows.map { case (id, text) =>
      Row(id, text, "en", "synthetic", text.length.toLong)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data), Tables.documentsSchema)
  }

  test("token/shingle pipelines return empty on an empty corpus") {
    assert(Llm.tokens(emptyDocs).count() == 0)
    assert(Llm.shinglesWithPos(emptyDocs).count() == 0)
    assert(Llm.shingleSets(emptyDocs).count() == 0)
  }

  test("short documents are excluded from shingles, not mis-shingled") {
    val d = docsOf((1L, "one"), (2L, "two words"), (3L, "three word doc"))
    val sh = Llm.shinglesWithPos(d).collect()
    assert(sh.map(_.getLong(0)).toSet == Set(3L))
    assert(sh.head.getString(2) == "three word doc")
  }

  test("connected components of an empty edge set is empty; self-loops collapse") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.LongType))))
    assert(Graph.connectedComponents(empty).count() == 0)
    val s = spark
    import s.implicits._
    val loops = Seq((7L, 7L), (9L, 9L)).toDF("a", "b")
    val cc = Graph.connectedComponents(loops).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(7L -> 7L, 9L -> 9L))
  }

  test("triangle census and pageRank survive empty and degenerate graphs") {
    val s = spark
    import s.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val cen = Graph.triangleCensus(empty).first()
    assert(cen.getLong(0) == 0 && cen.getLong(3) == 0 &&
      cen.getDouble(4) == 0.0, "empty graph census must be all zeros")
    assert(Graph.pageRank(empty, iters = 2).count() == 0)
    // single edge: two nodes, no wedges, no triangles; PR splits evenly
    val one = Seq((1L, 2L)).toDF("a", "b")
    val c1 = Graph.triangleCensus(one).first()
    assert(c1.getLong(0) == 2 && c1.getLong(2) == 0 && c1.getLong(3) == 0)
    val pr = Graph.pageRank(one, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pr(1L) - 0.5) < 1e-12 && math.abs(pr(2L) - 0.5) < 1e-12)
  }

  test("entropy: empty corpus -> empty; uniform doc -> 0; no NaN escapes") {
    assert(Llm.tokenEntropy(emptyDocs).count() == 0)
    val rows = Llm.tokenEntropy(docsOf(
      (1L, "same same same same"),       // single type -> H = 0 exactly
      (2L, "a b a b"),                   // two equal types -> H = ln 2
      (3L, "x"))).collect()
    val byId = rows.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(byId(1L) == (4L, 1L, 0.0), "uniform doc must score exactly 0")
    assert(math.abs(byId(2L)._3 - math.log(2)) < 1e-12)
    assert(byId(3L) == (1L, 1L, 0.0), "single-token doc scores 0")
    assert(rows.forall(r => !r.getDouble(3).isNaN))
  }

  test("readability: degenerate docs yield NULL flesch, never infinities") {
    val rows = Llm.readability(docsOf(
      (1L, "A plain sentence. And another one!"),
      (2L, "no sentence marks here"),    // unterminated = ONE sentence
      (3L, "..."),                       // w=1 but zero sentences -> NULL
      (4L, ""))).collect()
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(!byId(1L).isNullAt(4) &&
      !byId(1L).getDouble(4).isInfinite)
    assert(!byId(2L).isNullAt(4),
      "a doc without terminal punctuation reads as one sentence")
    assert(byId(3L).isNullAt(4), "zero sentences must not divide")
    assert(byId(4L).isNullAt(4), "empty doc must not divide")
    rows.foreach(r => assert(r.isNullAt(4) ||
      (!r.getDouble(4).isNaN && !r.getDouble(4).isInfinite)))
  }

  test("skew/kurtosis finals: constant group yields NULL, never NaN") {
    val sp = spark
    import sp.implicits._
    val (skewF, kurtF) = graft.operators.Aggregates.momentFinals
    val rows = Seq(("const", 7L), ("const", 7L), ("const", 7L),
        ("vary", 1L), ("vary", 2L), ("vary", 6L))
      .toDF("g", "q")
      .groupBy("g")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("q")).cast("double").as("s1"),
        sum(col("q") * col("q")).cast("double").as("s2"),
        sum(col("q") * col("q") * col("q")).cast("double").as("s3"),
        sum(col("q") * col("q") * col("q") * col("q"))
          .cast("double").as("s4"))
      .select(col("g"), expr(skewF).as("sk"), expr(kurtF).as("ku"))
      .collect()
    val byG = rows.map(r => r.getString(0) -> r).toMap
    assert(byG("const").isNullAt(1) && byG("const").isNullAt(2),
      "m2 = 0 must surface as NULL, not 0/0 = NaN")
    assert(!byG("vary").isNullAt(1) && !byG("vary").getDouble(1).isNaN)
    assert(!byG("vary").isNullAt(2) && !byG("vary").getDouble(2).isNaN)
  }

  test("anomaly scorer emits nothing until a user has 3 prior events") {
    val s = spark
    import s.implicits._
    import java.sql.Timestamp
    val ev = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "click", 5.0),
      (2L, Timestamp.valueOf("2024-01-01 10:01:00"), 1L, "click", 5.5),
      (3L, Timestamp.valueOf("2024-01-01 10:02:00"), 1L, "click", 6.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    assert(graft.streaming.StreamQueries.anomalyScores(ev).count() == 0)
  }

  test("anomaly scorer skips zero-variance history instead of dividing by it") {
    val s = spark
    import s.implicits._
    import java.sql.Timestamp
    val ev = (1 to 6).map { i =>
      (i.toLong, Timestamp.valueOf(f"2024-01-01 10:0$i%d:00"), 1L, "click",
        if (i < 6) 5.0 else 500.0) // constant history, then a wild outlier
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    // varnum = 0 for every prior-window → no NaN/Inf rows may escape
    val out = graft.streaming.StreamQueries.anomalyScores(ev).collect()
    assert(out.isEmpty)
  }

  test("url canonicalization: empty query, dup params, escapes, bare root") {
    val s = spark
    import s.implicits._
    val urls = Seq(
      "http://A.com?",              // empty query string: no trailing '?'
      "https://b.com/p?a=1&a=1",    // duplicate params kept, stable sort
      "HTTP://c.COM:80/x%2Fy?B=%2F", // escapes preserved VERBATIM (no
                                     // decode — %2F vs / changes paths)
      "https://d.com/",             // bare root: trailing slash stripped
      "https://e.com/p/?utm_source=x&utm_medium=y" // all-utm -> no query
    ).toDF("url")
    val got = graft.operators.Llm.withUrlCanonical(urls)
      .select("url", "canonical").as[(String, String)].collect().toMap
    assert(got("http://A.com?") === "http://a.com")
    assert(got("https://b.com/p?a=1&a=1") === "https://b.com/p?a=1&a=1")
    assert(got("HTTP://c.COM:80/x%2Fy?B=%2F") === "http://c.com/x%2Fy?B=%2F")
    assert(got("https://d.com/") === "https://d.com")
    assert(got("https://e.com/p/?utm_source=x&utm_medium=y")
      === "https://e.com/p")
  }

  test("zorderBy and compact handle a single-row table") {
    val s = spark
    import s.implicits._
    val one = Seq((5L, 9L)).toDF("a", "b")
    assert(Layout.zorderBy(one, col("a"), col("b"), 4).count() == 1)
    val in = tmpDir("edge_one_in")
    one.write.mode("overwrite").parquet(in)
    val (_, after) =
      Layout.compact(spark, in, tmpDir("edge_one_base") + "/o", 1L << 30)
    assert(after == 1)
  }

  test("band_prefix_collides rejects nullable-element arrays at " +
      "analysis time, accepts non-null ones") {
    // ADVICE r18: the codegen loop reads slots with getInt, which would
    // silently decode a null slot as 0 — a phantom collision on two
    // null slots. The expression now requires containsNull = false, so
    // the hazard is an analysis-time error, not a wrong row.
    val s = spark
    import s.implicits._
    val df = Seq(1).toDF("x")
    // array(1, 2): containsNull = false → type-checks and evaluates
    val ok = df.selectExpr(
      "band_prefix_collides(array(1, 2), array(1, 9), 2) AS c",
      "band_prefix_collides(array(1, 2), array(9, 9), 2) AS n")
      .collect()(0)
    assert(ok.getBoolean(0) && !ok.getBoolean(1))
    // a CAST(NULL AS INT) element makes containsNull = true → rejected
    // with the doctrine message, never a silent 0 == 0 collision
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("band_prefix_collides(array(1, CAST(NULL AS INT)), " +
        "array(1, 2), 2)").collect()
    }
    assert(e.getMessage.contains("containsNull"),
      s"expected the containsNull rejection, got: ${e.getMessage}")
  }

  test("ray_crossings counts a null edge, point or coordinate as 0 " +
      "crossings, with whole-stage codegen on and off") {
    // the unit square around (0.5, 0.5) crosses once (the edge x = 1);
    // CAST(id ...) keeps the edge list out of constant folding
    val q = spark.range(1).selectExpr("""ray_crossings(array(
        array(array(CAST(id AS DOUBLE), 0D), array(1D, 0D)),
        array(array(1D, 0D), array(1D, 1D)),
        array(array(1D, 1D), array(0D, 1D)),
        array(array(0D, 1D), array(0D, 0D)),
        NULL,
        array(NULL, array(1D, 1D)),
        array(array(1D, CAST(NULL AS DOUBLE)), array(1D, 1D))),
      0.5D, 0.5D) AS c""")
    val variants = Seq(
      Seq("spark.sql.codegen.wholeStage" -> "true"),
      Seq("spark.sql.codegen.wholeStage" -> "false"),
      // interpreted evaluation: the nullSafeEval path
      Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for (confs <- variants) {
      val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try assert(q.collect()(0).getInt(0) == 1, confs.toString)
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
  }

  test("char kernels decode a truncated UTF-8 tail instead of reading " +
      "past the end") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    import graft.plans.{CdcChunks, WinnowFingerprints}
    val bytes = Array[Byte](0x61, 0xE2.toByte)
    val truncated = UTF8String.fromBytes(bytes)
    def winnow(s: UTF8String) = WinnowFingerprints(Literal(s, StringType))
      .eval().asInstanceOf[ArrayData].toLongArray.toSeq
    // the missing continuation bytes read as 0 bits: U+2000 after the 'a'
    assert(winnow(truncated) == winnow(UTF8String.fromString("a\u2000")))
    val chunks = CdcChunks(Literal(truncated, StringType)).eval()
      .asInstanceOf[ArrayData]
    assert(chunks.numElements() == 1)
    val chunk = chunks.getStruct(0, 2)
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString
    assert(chunk.getUTF8String(0).toString == md5)
    assert(chunk.getLong(1) == 2L)
  }

  test("char kernels size a malformed lead byte as Spark's numChars does " +
      "instead of reading past the end") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    import graft.plans.{CdcChunks, WinnowFingerprints}
    // a stray continuation byte, and a lead byte past 0xF4: each is one
    // 1-byte char holding its low 7 bits, as UTF8String.codePointFrom
    // decodes it (0x80 → U+0000, 0xF8 → U+0078)
    for ((bytes, same) <- Seq(
        Array[Byte](0x80.toByte, 0x61) -> "\u0000a",
        Array[Byte](0xF8.toByte, 0x61, 0x62) -> "xab")) {
      val s = UTF8String.fromBytes(bytes)
      assert(s.numChars() == same.length)
      def winnow(s: UTF8String) = WinnowFingerprints(Literal(s, StringType))
        .eval().asInstanceOf[ArrayData].toLongArray.toSeq
      assert(winnow(s) == winnow(UTF8String.fromString(same)))
      val chunks = CdcChunks(Literal(s, StringType)).eval()
        .asInstanceOf[ArrayData]
      assert(chunks.numElements() == 1)
      val chunk = chunks.getStruct(0, 2)
      val md5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map(b => f"${b & 0xff}%02x").mkString
      assert(chunk.getUTF8String(0).toString == md5)
      assert(chunk.getLong(1) == same.length.toLong)
    }
  }

  test("a micro-unit long sum past 2^63 raises ARITHMETIC_OVERFLOW, not " +
      "a wrapped total") {
    // q_graph_adamic_adar sums unscaled_dec micro-units as a long; the
    // session's ANSI pin makes an overflow loud
    val e = intercept[Exception] {
      spark.range(2).selectExpr(
        "unscaled_dec(CAST(9000000 AS DECIMAL(38,12))) AS w")
        .agg(org.apache.spark.sql.functions.sum("w")).collect()
    }
    assert(e.getMessage.contains("ARITHMETIC_OVERFLOW"), e.getMessage)
  }
}
