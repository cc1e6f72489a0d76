package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Every engine function evaluates to the same rows, and never throws,
  * under each evaluation path Spark can pick for it: generated code
  * (`CODEGEN_ONLY`) and the interpreted `nullSafeEval` (`NO_CODEGEN`), each
  * with whole-stage codegen on and off. The inputs are the adversarial
  * values Spark accepts for each argument type: null arrays, null
  * elements where the type allows them, empty arrays, vectors of unequal
  * length, empty strings, astral-plane text, and truncated and malformed
  * UTF-8. The frame comes from an RDD, so neither constant folding nor
  * the local-relation rewrite evaluates a kernel at plan time.
  */
class KernelParitySpec extends AnyFunSuite with SparkFixture {

  private val modes = for {
    factory <- Seq("CODEGEN_ONLY", "NO_CODEGEN")
    wholeStage <- Seq("true", "false")
  } yield Seq("spark.sql.codegen.factoryMode" -> factory,
    "spark.sql.codegen.wholeStage" -> wholeStage)

  private def withConfs[T](confs: Seq[(String, String)])(f: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")
  private def bytes(bs: Int*): Array[Byte] = bs.map(_.toByte).toArray

  private val texts: Seq[Array[Byte]] = Seq(
    null,
    Array.emptyByteArray,
    utf8("a"),
    utf8("the quick brown fox jumps over the lazy dog " * 3),
    utf8("astral 𝄞 clef and 😀 face in a row of words"),
    bytes(0x61, 0xE2),                   // truncated 3-byte tail
    bytes(0x80, 0x61),                   // stray continuation byte
    bytes(0xF8, 0x61, 0x62),             // lead byte past 0xF4
    bytes(0xC0, 0xAF, 0x20, 0xC1, 0x20, 0xFF, 0x20, 0xF5, 0x41),
    utf8("mixed words ") ++ bytes(0xBF, 0x20, 0xF0, 0x9F, 0x98) ++
      utf8(" then more plain ascii words after the tail"),
    bytes(0x61, 0x20, 0x62, 0x20, 0x63, 0x20, 0xF0, 0x9F))

  private val rows: Seq[Row] = {
    val J = (f: Float) => java.lang.Float.valueOf(f)
    val D = (d: Double) => java.lang.Double.valueOf(d)
    val floats = Seq[Seq[java.lang.Float]](null, Seq(),
      Seq(J(1f), J(-2.5f), J(3f)), Seq(J(1f), null, J(0.5f), J(-1e30f)),
      Seq(J(0.1f)), Seq(J(Float.MaxValue), J(Float.MinPositiveValue)))
    val doubles = Seq[Seq[java.lang.Double]](Seq(D(2.0), D(0.25)), null,
      Seq(D(1e300), null, D(-1e-300), D(7.0), D(8.0)), Seq(),
      Seq(D(-0.0), D(3.0), D(1.0)), Seq(D(0.5), D(0.5), D(0.5), D(0.5)))
    val ints = Seq[Seq[Int]](Seq(1, 2, 3), Seq(), null, Seq(4, 2),
      Seq(Int.MinValue, 0, Int.MaxValue), Seq(9))
    val bands = Seq[java.lang.Integer](2, null, 0, -1, Int.MaxValue, 1)
    val pt = (x: java.lang.Double, y: java.lang.Double) => Seq(x, y)
    val square = Seq(
      Seq(pt(0.0, 0.0), pt(1.0, 0.0)), Seq(pt(1.0, 0.0), pt(1.0, 1.0)),
      Seq(pt(1.0, 1.0), pt(0.0, 1.0)), Seq(pt(0.0, 1.0), pt(0.0, 0.0)))
    val edgeLists = Seq[Seq[Seq[Seq[java.lang.Double]]]](square, null,
      Seq(), square ++ Seq(null, Seq(null, pt(1.0, 1.0)),
        Seq(pt(1.0, null), pt(1.0, 1.0)), Seq(pt(1.0, 1.0)),
        Seq(Seq(D(1.0)), pt(1.0, 1.0)), Seq()),
      Seq(Seq(pt(0.0, 0.0), pt(1.0, 0.0), pt(5.0, 5.0)),
        Seq(pt(Double.NaN, 0.0), pt(1.0, 1.0))),
      Seq(Seq(pt(0.0, 0.5), pt(0.0, 0.5)), Seq(pt(1.0, 0.0), pt(1.0, 2.0))))
    val pxs = Seq[java.lang.Double](0.5, 0.5, null, 0.5, Double.NaN, 0.0)
    val pys = Seq[java.lang.Double](0.5, null, 0.5, 0.5, 0.5, 0.5)
    val decs = Seq[java.math.BigDecimal](new java.math.BigDecimal("1.5"),
      null, new java.math.BigDecimal("-9223372.036854775808"),
      new java.math.BigDecimal("9223372.036854775807"),
      new java.math.BigDecimal("0.000000000001"), java.math.BigDecimal.ZERO)
    val longs = Seq[java.lang.Long](Long.MaxValue, null, Long.MinValue, 0L,
      -1L, 1500000000000L)
    val hashes = Seq[Seq[java.lang.Long]](Seq(5L, -3L, Long.MaxValue),
      null, Seq(), Seq(null, 7L, null), Seq(Long.MinValue, 1L), Seq(null))
    val toks = Seq[Seq[String]](Seq("a", null, "", "b", "c", "b", "c"),
      null, Seq(), Seq("x", "y"), Seq("", "", "", ""),
      Seq("😀", "𝄞", "z", "😀"))
    texts.indices.map { i =>
      val k = i % 6
      Row(i.toLong, texts(i), toks(k), floats(k), floats((k + 1) % 6),
        doubles(k), doubles((k + 2) % 6), ints(k), ints((k + 3) % 6),
        bands(k), edgeLists(k), pxs(k), pys(k), decs(k), longs(k),
        hashes(k))
    }
  }

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("bin", BinaryType),
    StructField("toks", ArrayType(StringType)),
    StructField("fa", ArrayType(FloatType)),
    StructField("fb", ArrayType(FloatType)),
    StructField("da", ArrayType(DoubleType)),
    StructField("db", ArrayType(DoubleType)),
    StructField("ka", ArrayType(IntegerType, containsNull = false)),
    StructField("kb", ArrayType(IntegerType, containsNull = false)),
    StructField("band", IntegerType),
    StructField("edges", ArrayType(ArrayType(ArrayType(DoubleType)))),
    StructField("px", DoubleType),
    StructField("py", DoubleType),
    StructField("dec", DecimalType(38, 12)),
    StructField("lg", LongType),
    StructField("hs", ArrayType(LongType))))

  private def frame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows, 2), schema)
    .selectExpr("*", "CAST(bin AS STRING) AS text",
      "split(CAST(bin AS STRING), ' ') AS words")

  /** One result per mode: the ordered rows as strings (exact doubles,
    * signed zeros and NaN compare as written), or the exception.
    */
  private def underEachMode(exprs: Seq[String])
      : Seq[(Seq[(String, String)], Either[String, Seq[String]])] =
    modes.map { confs =>
      confs -> withConfs(confs) {
        try Right(frame.selectExpr("id" +: exprs: _*).orderBy("id")
          .collect().map(_.toString).toSeq)
        catch { case e: Exception => Left(e.toString) }
      }
    }

  private def assertParity(exprs: Seq[String]): Unit = {
    val results = underEachMode(exprs)
    results.foreach {
      case (confs, Left(e)) => fail(s"$confs threw: $e")
      case _                =>
    }
    val (baseConfs, base) = results.head
    results.tail.foreach { case (confs, r) =>
      assert(r == base, s"$confs disagrees with $baseConfs")
    }
  }

  /** The calls of each fixed function over the frame's columns, in the
    * order of VectorFunctions.fixed.
    */
  private val calls: Seq[(String, Seq[String])] = Seq(
    "vec_dot" -> Seq("vec_dot(fa, fb)", "vec_dot(da, db)",
      "vec_dot(fa, db)", "vec_dot(da, fa)"),
    "band_prefix_collides" -> Seq("band_prefix_collides(ka, kb, band)",
      "band_prefix_collides(ka, ka, band)",
      "band_prefix_collides(kb, ka, 3)"),
    "winnow_fps" -> Seq("winnow_fps(text)"),
    "cdc_chunks" -> Seq("cdc_chunks(text)"),
    "shingle_xxh64_set" -> Seq("shingle_xxh64_set(toks)",
      "shingle_xxh64_set(words)"),
    "shingle_md5p60_set" -> Seq("shingle_md5p60_set(toks)",
      "shingle_md5p60_set(words)"),
    "shingle_md5p32_set" -> Seq("shingle_md5p32_set(toks)",
      "shingle_md5p32_set(words)"),
    "ray_crossings" -> Seq("ray_crossings(edges, px, py)",
      "ray_crossings(edges, py, px)"),
    "unscaled_dec" -> Seq("unscaled_dec(dec)"),
    "make_dec12" -> Seq("make_dec12(lg)", "make_dec12(unscaled_dec(dec))"))

  test("the parity cases cover exactly the fixed function table") {
    assert(calls.map(_._1) == graft.plans.VectorFunctions.fixed.map(_._1))
  }

  for ((name, exprs) <- calls)
    test(s"$name agrees across codegen and interpreted evaluation") {
      assertParity(exprs)
    }

  test("minhash_sigs_* agrees across codegen and interpreted evaluation") {
    val fn = graft.plans.VectorFunctions.registerMinhashSigs(spark,
      Seq(3L, 1000003L, Long.MaxValue / 7), Seq(11L, 0L, -5L), 2147483647L)
    assertParity(Seq(s"$fn(hs)", s"$fn(shingle_xxh64_set(words))"))
  }

  test("lsh_keys_* agrees across codegen and interpreted evaluation") {
    val planes = Seq.tabulate(6, 4)((p, i) => math.sin(p * 4 + i + 1.0))
    val fn = graft.plans.VectorFunctions.registerLshKeys(spark, planes, 2)
    assertParity(Seq(s"$fn(fa)", s"$fn(da)", s"$fn(fb)"))
  }
}
