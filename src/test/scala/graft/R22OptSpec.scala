package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r22 optimization round: every restructured operator must be
  * value-identical to the formulation it replaced — the same pin
  * doctrine as R21OptSpec (compare against the OLD spelling, not a
  * re-derivation).
  */
class R22OptSpec extends AnyFunSuite with SparkFixture {

  test("ray_crossings matches the replaced aggregate() HOF chain") {
    // the exact expression q_geo_point_in_polygon shipped through r21
    val hof = """aggregate(edges, 0,
         (acc, e) -> acc + (CASE WHEN
           (element_at(element_at(e, 1), 2) > py)
             != (element_at(element_at(e, 2), 2) > py)
           AND px < element_at(element_at(e, 1), 1)
             + (py - element_at(element_at(e, 1), 2))
               * (element_at(element_at(e, 2), 1)
                  - element_at(element_at(e, 1), 1))
               / (element_at(element_at(e, 2), 2)
                  - element_at(element_at(e, 1), 2))
           THEN 1 ELSE 0 END))"""
    // real pairs: rebuild the query's own (edges, px, py) frame at test sf
    def ring(hw: org.apache.spark.sql.Column, ccw: Boolean) = {
      val corners = Seq((-1, -1), (1, -1), (1, 1), (-1, 1), (-1, -1))
        .map { case (sx, sy) =>
          array(col("cx") + hw * sx, col("cy") + hw * sy) }
      array((if (ccw) corners else corners.reverse): _*)
    }
    val geom = sources.Tables.nation(spark, sfDir)
      .select(col("n_nationkey").cast("long").as("feat_id"),
        (col("n_nationkey") * 7 % 360 - 180 + 0.5).as("cx"),
        (col("n_nationkey") * 13 % 180 - 90 + 0.5).as("cy"),
        ((col("n_nationkey") % 4 + 1).cast("double") * 0.25).as("w"))
      .withColumn("rings",
        array(ring(col("w"), ccw = true), ring(col("w") * 0.5, ccw = false)))
      .withColumn("edges", expr(
        """flatten(transform(rings, r -> transform(
             sequence(1, size(r) - 1),
             i -> array(element_at(r, i), element_at(r, i + 1)))))"""))
    val pts = sources.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_nationkey"))
      .join(geom.select(col("feat_id").as("home"),
        col("cx").as("hcx"), col("cy").as("hcy")),
        col("c_nationkey") === col("home"))
      .select(col("c_custkey"),
        (col("hcx") + (col("c_custkey") * 7 % 41 - 20) * 0.125 + 0.0625)
          .as("px"),
        (col("hcy") + (col("c_custkey") * 13 % 41 - 20) * 0.125 + 0.0625)
          .as("py"))
    val pairs = pts.crossJoin(geom.select("feat_id", "edges"))
    val diff = pairs
      .select(expr(hof).as("old"), expr("ray_crossings(edges, px, py)")
        .as("nw"))
      .where(not(col("old") <=> col("nw")))
    assert(diff.count() === 0, "ray_crossings diverged on corpus pairs")
    // degenerate polygons: empty edge list, horizontal edge (straddle
    // false), vertical edge (zero-product term), point exactly level
    // with a vertex, and sub-2-point "edges" (HOF yields NULL element_at
    // → CASE false; kernel counts 0)
    val edgy = spark.sql(
      """SELECT * FROM VALUES
           (array(), 0.5D, 0.5D),
           (array(array(array(0D,0D), array(1D,0D))), 0.5D, 0.0D),
           (array(array(array(0D,0D), array(0D,1D))), -0.5D, 0.5D),
           (array(array(array(0D,0D), array(1D,1D)),
                  array(array(1D,1D), array(0D,0D))), 0.25D, 0.5D),
           (array(array(array(0D,1D), array(1D,1D)),
                  array(array(0D,0D), array(0D,2D))), -1.0D, 1.0D)
         AS t(edges, px, py)""")
    val diff2 = edgy
      .select(expr(hof).as("old"), expr("ray_crossings(edges, px, py)")
        .as("nw"))
      .where(not(coalesce(col("old"), lit(0)) <=>
        coalesce(col("nw"), lit(0))))
    assert(diff2.count() === 0, "ray_crossings diverged on edge polygons")
  }

  test("unscaled_dec/make_dec12 round-trips the adamic-adar weights") {
    // every weight the query can produce: 1/ln(deg) for deg 2..100000,
    // cast to DECIMAL(38,12) exactly as the store side does
    val diff = spark.range(2, 100001)
      .select(expr("CAST(CAST(1.0 AS DOUBLE) / ln(CAST(id AS DOUBLE)) " +
        "AS DECIMAL(38,12))").as("d"))
      .where(not(col("d") <=> expr("make_dec12(unscaled_dec(d))")))
    assert(diff.count() === 0, "micro-unit round-trip diverged")
  }

  test("adamic-adar micro-unit sum matches the decimal-sum formulation") {
    // the OLD r21 spelling: ship DECIMAL(38,12) through the pair
    // aggregate and sum decimals — row-identical output required
    val s = spark
    val dir = sfDir
    // same graph construction as Relational.graphUnd (which is
    // private[operators]), without the bucketed store
    val e = sources.Tables.lineitem(s, dir)
      .select((col("l_partkey") * 2).as("a"),
        (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
    val und = e.union(e.select(col("b").as("a"), col("a").as("b")))
      .toDF("src", "dst")
    val deg = und.groupBy("src").agg(count(lit(1)).as("deg"))
    val w = deg
      .where(pmod(col("src"), lit(2)) === 0 && col("deg") >= 2)
      .select(col("src").as("n"),
        expr("CAST(CAST(1.0 AS DOUBLE) / ln(CAST(deg AS DOUBLE)) " +
          "AS DECIMAL(38,12))").as("w"))
    val ctr = und.where(pmod(col("src"), lit(2)) === 0)
    val old = ctr.select(col("src").as("n"), col("dst").as("a"))
      .join(ctr.select(col("src").as("n"), col("dst").as("b")), Seq("n"))
      .where(col("a") < col("b"))
      .join(w, Seq("n"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"), sum(col("w")).as("sd"))
      .orderBy(col("sd").desc, col("a"), col("b"))
      .limit(20)
      .select(col("a"), col("b"), col("n_common"),
        col("sd").cast("double").as("aa_score"))
    val nw = SparkEntry.queries("q_graph_adamic_adar")(s, dir)
    assert(nw.exceptAll(old).count() === 0 &&
      old.exceptAll(nw).count() === 0,
      "adamic-adar micro-unit form diverged from the decimal form")
  }

  test("minhash/fingerprint prefilter ⟺ non-empty shingle set") {
    // size(split(text,' ')) >= 3 must be EXACTLY the rows where the
    // kernel set is non-empty (the ShingleKernel < 3-token contract),
    // including edge docs
    val base = sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val maxId = base.agg(max(col("doc_id"))).head.getLong(0) + 1
    val edges = spark.createDataFrame(Seq(
      (maxId, ""), (maxId + 1, "a"), (maxId + 2, "a b"),
      (maxId + 3, "a b c"), (maxId + 4, "  "), (maxId + 5, " a  b ")))
      .toDF("doc_id", "text")
    val diff = base.union(edges)
      .select(
        (size(split(col("text"), " ")) >= 3).as("pre"),
        (size(expr("shingle_md5p32_set(split(text, ' '))")) > 0).as("ne"))
      .where(col("pre") =!= col("ne"))
    assert(diff.count() === 0, "prefilter is not equivalent to size(hs)>0")
  }
}
