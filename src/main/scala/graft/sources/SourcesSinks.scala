package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}
import graft.{Det, Q}

/** File-format sources and sinks — SURVEY.md §2.A (○ unit-tested surface).
  *
  * Reference semantics: the ETL's primary inputs are header CSVs with ""/-1
  * null sentinels; outputs are per-state CSV shards for data download and
  * NDJSON feature rows feeding the tile builder (tippecanoe — the external
  * C++ tile step stays out of engine scope; we emit its exact input)
  * [ref:data CSV targets, data-download targets, tiles targets (H) —
  * SURVEY.md §0].
  *
  * Scale posture: explicit schemas always (no inferSchema scan), writers
  * partition by a bounded-cardinality key so each output task streams one
  * shard; NDJSON emission is a pure projection (one codegen stage, no
  * shuffle).
  */
object SourcesSinks {

  /** CSV source with explicit schema, header, and the reference's null
    * sentinel convention ("" and -1 → null).
    */
  def readCsv(spark: SparkSession, path: String, schema: StructType,
              nullValue: String = "-1"): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("nullValue", nullValue)
      .option("emptyValue", nullValue) // "" follows the same sentinel rule
      .csv(path)

  /** Malformed-input containment — the lake contract that ONE bad row in a
    * 100 TB load cannot kill the job, while staying countable and
    * quarantinable: PERMISSIVE mode parses what it can, nulls the fields it
    * can't, and captures each unparseable raw line in `_corrupt_record`.
    * To route rejects to a quarantine sink, `cache()` (or otherwise
    * materialize) the frame FIRST: Spark raises AnalysisException for a
    * query that references only the corrupt-record column of an uncached
    * CSV frame (the internal-column restriction) — e.g.
    * `val raw = readCsvPermissive(...).cache();
    *  raw.where($"_corrupt_record".isNotNull).select("_corrupt_record")`.
    * Pair with `mode=FAILFAST` (just pass the option) when a strict load
    * SHOULD die on first corruption.
    */
  def readCsvPermissive(spark: SparkSession, path: String,
                        schema: StructType,
                        header: Boolean = true): DataFrame =
    spark.read
      .schema(schema.add(StructField("_corrupt_record", StringType)))
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)

  /** Header CSV writer. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** Per-key CSV shards (per-state data-download zips analog). */
  def writeCsvPartitioned(df: DataFrame, path: String,
                          partCol: String): Unit =
    df.write.mode("overwrite")
      .partitionBy(partCol)
      .option("header", "true")
      .csv(path)

  /** JSON-lines source with explicit schema (census-API response analog). */
  def readJsonl(spark: SparkSession, path: String,
                schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** JSON-lines writer. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** GeoJSON-ish NDJSON feature rows: one Feature object per row with
    * `properties` from the given columns and a Point geometry from (x, y) —
    * byte-exact input format for an external tile builder.
    */
  def toFeatureRows(df: DataFrame, idCol: String, xCol: String, yCol: String,
                    propCols: Seq[String]): DataFrame = {
    val props = struct(propCols.map(col): _*)
    df.select(to_json(struct(
      lit("Feature").as("type"),
      col(idCol).as("id"),
      props.as("properties"),
      struct(lit("Point").as("type"),
        array(col(xCol), col(yCol)).as("coordinates")).as("geometry")))
      .as("feature"))
  }

  /** NDJSON sink for feature rows (tippecanoe input). */
  def writeFeatureRows(features: DataFrame, path: String): Unit =
    features.write.mode("overwrite").text(path)

  /** Full schema of one Feature row as toFeatureRows emits it. */
  def featureSchema(idType: DataType, propSchema: StructType): StructType =
    StructType(Seq(
      StructField("type", StringType),
      StructField("id", idType),
      StructField("properties", propSchema),
      StructField("geometry", StructType(Seq(
        StructField("type", StringType),
        StructField("coordinates",
          org.apache.spark.sql.types.ArrayType(DoubleType)))))))

  /** Parse a column of Feature JSON strings back into the modeled columns —
    * the inverse of toFeatureRows, as a plain projection so it composes
    * into any query plan (one codegen stage, no shuffle). `jsonCol` is the
    * string column; output = id, the flattened property columns, x, y.
    */
  def parseFeatureRows(df: DataFrame, jsonCol: String, idType: DataType,
                       propSchema: StructType): DataFrame =
    df.select(from_json(col(jsonCol),
        featureSchema(idType, propSchema)).as("f"))
      .select(col("f.id").as("id") +:
        propSchema.fieldNames.toSeq.map(n => col(s"f.properties.$n")) :+
        element_at(col("f.geometry.coordinates"), 1).as("x") :+
        element_at(col("f.geometry.coordinates"), 2).as("y"): _*)

  /** Polygon/MultiPolygon-style geometry: the reference's census features
    * are polygons, not points [ref:census/%.geojson targets (H) —
    * SURVEY.md §0], so the feature model also speaks a ring-based Polygon
    * variant. Coordinates are GeoJSON-shaped: array of linear rings, each
    * ring an array of [x, y] positions (first ring = exterior, the rest =
    * holes). `ringsCol` must already be array<array<array<double>>>.
    */
  def toPolygonFeatureRows(df: DataFrame, idCol: String, ringsCol: String,
                           propCols: Seq[String]): DataFrame = {
    val props = struct(propCols.map(col): _*)
    df.select(to_json(struct(
      lit("Feature").as("type"),
      col(idCol).as("id"),
      props.as("properties"),
      struct(lit("Polygon").as("type"),
        col(ringsCol).as("coordinates")).as("geometry")))
      .as("feature"))
  }

  /** Full schema of one Polygon Feature row as toPolygonFeatureRows emits
    * it (coordinates: rings → positions → [x, y]).
    */
  def polygonFeatureSchema(idType: DataType,
                           propSchema: StructType): StructType = {
    import org.apache.spark.sql.types.ArrayType
    StructType(Seq(
      StructField("type", StringType),
      StructField("id", idType),
      StructField("properties", propSchema),
      StructField("geometry", StructType(Seq(
        StructField("type", StringType),
        StructField("coordinates",
          ArrayType(ArrayType(ArrayType(DoubleType)))))))))
  }

  /** Inverse of toPolygonFeatureRows — a plain projection returning id,
    * the flattened property columns, and the nested `rings` column; ring
    * consumers (bbox, point count, area) explode from there.
    */
  def parsePolygonFeatureRows(df: DataFrame, jsonCol: String, idType: DataType,
                              propSchema: StructType): DataFrame =
    df.select(from_json(col(jsonCol),
        polygonFeatureSchema(idType, propSchema)).as("f"))
      .select(col("f.id").as("id") +:
        propSchema.fieldNames.toSeq.map(n => col(s"f.properties.$n")) :+
        col("f.geometry.coordinates").as("rings"): _*)

  /** MultiPolygon variant: coordinates are an array of POLYGONS, each an
    * array of rings (GeoJSON level-4 nesting) — the shape census features
    * take when a geography is disjoint (islands, exclaves). `polysCol`
    * must already be array<array<array<array<double>>>>.
    */
  def toMultiPolygonFeatureRows(df: DataFrame, idCol: String,
                                polysCol: String,
                                propCols: Seq[String]): DataFrame = {
    val props = struct(propCols.map(col): _*)
    df.select(to_json(struct(
      lit("Feature").as("type"),
      col(idCol).as("id"),
      props.as("properties"),
      struct(lit("MultiPolygon").as("type"),
        col(polysCol).as("coordinates")).as("geometry")))
      .as("feature"))
  }

  def multiPolygonFeatureSchema(idType: DataType,
                                propSchema: StructType): StructType = {
    import org.apache.spark.sql.types.ArrayType
    StructType(Seq(
      StructField("type", StringType),
      StructField("id", idType),
      StructField("properties", propSchema),
      StructField("geometry", StructType(Seq(
        StructField("type", StringType),
        StructField("coordinates",
          ArrayType(ArrayType(ArrayType(ArrayType(DoubleType))))))))))
  }

  /** Inverse of toMultiPolygonFeatureRows: id, flattened properties, and
    * the nested `polys` column (polygons → rings → positions → [x, y]).
    */
  def parseMultiPolygonFeatureRows(df: DataFrame, jsonCol: String,
                                   idType: DataType,
                                   propSchema: StructType): DataFrame =
    df.select(from_json(col(jsonCol),
        multiPolygonFeatureSchema(idType, propSchema)).as("f"))
      .select(col("f.id").as("id") +:
        propSchema.fieldNames.toSeq.map(n => col(s"f.properties.$n")) :+
        col("f.geometry.coordinates").as("polys"): _*)

  /** Signed shoelace area of one closed linear ring column (first position
    * == last): positive for counter-clockwise winding, negative for
    * clockwise — so summing ring areas of a GeoJSON polygon (CCW exterior,
    * CW holes) yields the net area directly. Pure codegen higher-order
    * expression over the in-row ring array (bounded per-ring length; this
    * is a per-row projection, not a hot inner loop like vec_dot).
    */
  def ringSignedArea(ringCol: String): Column =
    expr(s"""aggregate(
         zip_with(slice($ringCol, 1, size($ringCol) - 1),
                  slice($ringCol, 2, size($ringCol) - 1),
                  (p, q) -> element_at(p, 1) * element_at(q, 2)
                          - element_at(q, 1) * element_at(p, 2)),
         CAST(0 AS DOUBLE), (acc, v) -> acc + v) / 2""")

  /** GeoJSON-ish NDJSON feature SOURCE: read what writeFeatureRows wrote
    * (or any external per-line Feature file) back into typed columns. The
    * reference's flagship flow STARTS from geography feature files, so the
    * engine must ingest them, not only emit them.
    */
  def readFeatureRows(spark: SparkSession, path: String, idType: DataType,
                      propSchema: StructType): DataFrame =
    parseFeatureRows(spark.read.text(path), "value", idType, propSchema)

  /** Parquet sink (the Verify path itself uses this). */
  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** ORC sink/source — the other columnar format a lake-interchange engine
    * must speak (built into Spark; predicate pushdown and column pruning
    * work the same as parquet).
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String,
              schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** One reusable temp root per Spark application, removed on JVM exit.
    * Through r5 every qSourceOrcRoundtrip invocation called
    * createTempDirectory and never cleaned up, so bench re-timings and
    * repeated driver/test runs accumulated orphaned ORC copies in /tmp;
    * now re-runs overwrite one per-session directory and a shutdown hook
    * deletes it. Keyed by applicationId so parallel sessions never collide.
    */
  private val sessionRoots =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  def sessionTempDir(s: SparkSession): java.nio.file.Path =
    sessionRoots.computeIfAbsent(s.sparkContext.applicationId, _ => {
      val d = java.nio.file.Files.createTempDirectory("graft_session_")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(d.toFile)
      }))
      d
    })

  /** Session temp path for a per-input-dir artifact: `tag` + an md5 of the
    * input dir (collision-free, unlike hashCode). A session-fixed name
    * would alias two scale dirs onto one path when both queries' plans are
    * CONSTRUCTED before either executes — the earlier plan would then read
    * the later dir's rewrite (latent even though the harness runs per-dir
    * sequentially today). Same keying doctrine as Llm.pairTable and
    * Layout.zorderedLineitem.
    */
  def dirKeyedTempPath(s: SparkSession, dir: String, tag: String): String =
    sessionTempDir(s).resolve(s"${tag}_${dirKey(dir)}").toString

  /** The md5 hex of an input dir: the key of every per-dir store, whether a
    * temp path or a catalog table name.
    */
  def dirKey(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The t2 ORC query: parquet→ORC→read-back→aggregate in one plan. The
    * round trip is value-lossless (both formats share Spark's type system
    * for these columns), so the oracle aggregates the parquet table
    * directly — DuckDB never needs to read ORC, and a hash match proves
    * the ORC path preserved every value. Output lands in the per-session
    * temp root (overwritten in place on re-runs, deleted on JVM exit).
    */
  val qSourceOrcRoundtrip = Q(
    "q_source_orc_roundtrip",
    (s, dir) => {
      val slim = Tables.orders(s, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val path = dirKeyedTempPath(s, dir, "orc_orders")
      writeOrc(slim, path)
      readOrc(s, path, slim.schema)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          graft.Det.dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderstatus")
    },
    Some(s"""SELECT o_orderstatus, count(*) AS n,
                    ${graft.Det.sqlSum("o_totalprice")} AS sum_price
             FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** The t2 XML query: parquet→XML→read-back→aggregate in one plan, using
    * Spark 4's BUILT-IN xml source (spark-xml graduated into core). XML is
    * the interchange format the long tail of enterprise feeds still
    * arrives in; the explicit read schema keeps the trip value-exact for
    * these column types (long/string/long), so the oracle aggregates the
    * parquet table directly and the hash match proves the XML path
    * preserved every value. Same per-session temp-root lifecycle as ORC.
    */
  val qSourceXmlRoundtrip = Q(
    "q_source_xml_roundtrip",
    (s, dir) => {
      val slim = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"),
          // cents as LONG: XML is a text format, so a double would round
          // trip through decimal text — integer cents stay exact
          round(col("c_acctbal") * 100)
            .cast(org.apache.spark.sql.types.DecimalType(18, 0))
            .cast(org.apache.spark.sql.types.LongType).as("bal_cents"))
      val path = dirKeyedTempPath(s, dir, "xml_customer")
      slim.write.mode("overwrite").option("rowTag", "customer")
        .format("xml").save(path)
      s.read.schema(slim.schema).option("rowTag", "customer")
        .format("xml").load(path)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum(col("bal_cents")).as("sum_cents"),
          min(col("c_custkey")).as("min_key"),
          max(col("c_custkey")).as("max_key"))
        .orderBy("c_mktsegment")
    },
    Some(s"""SELECT c_mktsegment, count(*) AS n,
                   CAST(sum(${Det.sqlRoundCents("c_acctbal")})
                     AS BIGINT) AS sum_cents,
                   min(c_custkey) AS min_key, max(c_custkey) AS max_key
            FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** The t2 CSV query — the reference's PRIMARY interchange format gets
    * the same oracle-checked round trip as ORC/XML/binaryFile:
    * parquet→header-CSV→read-back→aggregate in one plan, through the
    * library's own writeCsv/readCsv (explicit schema, no inferSchema
    * scan, the ""/-1 null-sentinel convention). CSV is a text format, so
    * the money column rides as integer cents (exact decimal text); the
    * oracle aggregates the parquet table directly and a hash match proves
    * the CSV path preserved every value. Same per-session temp-root
    * lifecycle as the ORC trip.
    */
  val qSourceCsvRoundtrip = Q(
    "q_source_csv_roundtrip",
    (s, dir) => {
      val slim = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100)
            .cast(org.apache.spark.sql.types.DecimalType(18, 0))
            .cast(LongType).as("price_cents"))
      val path = dirKeyedTempPath(s, dir, "csv_orders")
      writeCsv(slim, path)
      readCsv(s, path, slim.schema)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("sum_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderpriority")
    },
    Some(s"""SELECT o_orderpriority, count(*) AS n,
                   CAST(sum(${Det.sqlRoundCents("o_totalprice")})
                     AS BIGINT) AS sum_cents,
                   min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
            FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** The t2 JSONL query: parquet→NDJSON→read-back→aggregate in one plan
    * through writeJsonl/readJsonl (the census-API response analog —
    * schema-on-read with an EXPLICIT schema, never inference). Integer
    * cents for text-exactness, same doctrine as CSV/XML; the oracle reads
    * the parquet table, so the hash match proves the JSON text trip is
    * value-lossless.
    */
  val qSourceJsonlRoundtrip = Q(
    "q_source_jsonl_roundtrip",
    (s, dir) => {
      val slim = Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand"),
          round(col("p_retailprice") * 100)
            .cast(org.apache.spark.sql.types.DecimalType(18, 0))
            .cast(LongType).as("price_cents"))
      val path = dirKeyedTempPath(s, dir, "jsonl_part")
      writeJsonl(slim, path)
      readJsonl(s, path, slim.schema)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("sum_cents"),
          min(col("p_partkey")).as("min_key"),
          max(col("p_partkey")).as("max_key"))
        .orderBy("p_brand")
    },
    Some(s"""SELECT p_brand, count(*) AS n,
                   CAST(sum(${Det.sqlRoundCents("p_retailprice")})
                     AS BIGINT) AS sum_cents,
                   min(p_partkey) AS min_key, max(p_partkey) AS max_key
            FROM part GROUP BY p_brand ORDER BY p_brand"""))

  /** The t2 geo query: build Feature rows from nation×region with
    * deterministic point coordinates, serialize with toFeatureRows, parse
    * them BACK with parseFeatureRows (the full sink→source round trip,
    * inside one plan), then aggregate a per-region bounding box. The
    * coordinates are exact binary fractions (k + 0.5) so the JSON text
    * round trip is value-exact and the oracle — which computes the same
    * bbox directly, JSON being Spark plumbing — hash-matches.
    */
  val qGeoBboxRoundtrip = Q(
    "q_geo_bbox_roundtrip",
    (s, dir) => {
      val joined = Tables.nation(s, dir)
        .join(Tables.region(s, dir),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").cast(LongType).as("feat_id"),
          col("n_name"), col("r_name"),
          (col("n_nationkey") * 7 % 360 - 180 + 0.5).as("x"),
          (col("n_nationkey") * 13 % 180 - 90 + 0.5).as("y"))
      val features = toFeatureRows(joined, "feat_id", "x", "y",
        Seq("n_name", "r_name"))
      val propSchema = StructType(Seq(
        StructField("n_name", StringType), StructField("r_name", StringType)))
      parseFeatureRows(features, "feature", LongType, propSchema)
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_feat"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .orderBy("r_name")
    },
    Some("""SELECT r_name, count(*) AS n_feat,
                   min(x) AS min_x, max(x) AS max_x,
                   min(y) AS min_y, max(y) AS max_y
            FROM (SELECT r.r_name,
                         (n.n_nationkey * 7) % 360 - 180 + 0.5 AS x,
                         (n.n_nationkey * 13) % 180 - 90 + 0.5 AS y
                  FROM nation n JOIN region r
                    ON n.n_regionkey = r.r_regionkey)
            GROUP BY r_name ORDER BY r_name"""))

  /** The t2 polygon query: build a 2-ring Polygon per nation (an exterior
    * square and a hole, both centered on the same deterministic point as
    * qGeoBboxRoundtrip, all coordinates exact binary fractions k + 0.5 ±
    * 0.25/0.125), serialize with toPolygonFeatureRows, parse BACK with
    * parsePolygonFeatureRows (full sink→source round trip inside one plan),
    * explode rings → positions, and aggregate a per-region bbox + structure
    * counts. The oracle regenerates the same 10 positions per feature
    * arithmetically (JSON being Spark plumbing), so a hash match proves
    * every ring, position, and coordinate survived the round trip exactly.
    * Scale posture: the double explode is a narrow generator (no shuffle
    * until the bounded-key groupBy); ring arrays stay columnar until the
    * single agg exchange.
    */
  val qGeoPolygonBbox = Q(
    "q_geo_polygon_bbox",
    (s, dir) => {
      def pt(dx: Double, dy: Double) =
        array(col("cx") + dx, col("cy") + dy)
      def ring(w: Double) =
        array(pt(-w, -w), pt(w, -w), pt(w, w), pt(-w, w), pt(-w, -w))
      val joined = Tables.nation(s, dir)
        .join(Tables.region(s, dir),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").cast(LongType).as("feat_id"),
          col("n_name"), col("r_name"),
          (col("n_nationkey") * 7 % 360 - 180 + 0.5).as("cx"),
          (col("n_nationkey") * 13 % 180 - 90 + 0.5).as("cy"))
        .withColumn("rings", array(ring(0.25), ring(0.125)))
      val features = toPolygonFeatureRows(joined, "feat_id", "rings",
        Seq("n_name", "r_name"))
      val propSchema = StructType(Seq(
        StructField("n_name", StringType), StructField("r_name", StringType)))
      parsePolygonFeatureRows(features, "feature", LongType, propSchema)
        .select(col("id"), col("r_name"), explode(col("rings")).as("ring"))
        .select(col("id"), col("r_name"), explode(col("ring")).as("pt"))
        .select(col("id"), col("r_name"),
          element_at(col("pt"), 1).as("x"), element_at(col("pt"), 2).as("y"))
        .groupBy("r_name")
        .agg(countDistinct(col("id")).as("n_feat"),
          count(lit(1)).as("n_pt"),
          min(col("x")).as("min_x"), max(col("x")).as("max_x"),
          min(col("y")).as("min_y"), max(col("y")).as("max_y"))
        .orderBy("r_name")
    },
    Some("""SELECT r_name, count(DISTINCT feat_id) AS n_feat,
                   count(*) AS n_pt,
                   min(x) AS min_x, max(x) AS max_x,
                   min(y) AS min_y, max(y) AS max_y
            FROM (SELECT n.n_nationkey AS feat_id, r.r_name,
                         (n.n_nationkey * 7) % 360 - 180 + 0.5 + o.dx AS x,
                         (n.n_nationkey * 13) % 180 - 90 + 0.5 + o.dy AS y
                  FROM nation n JOIN region r
                    ON n.n_regionkey = r.r_regionkey
                  CROSS JOIN (VALUES
                    (-0.25, -0.25), (0.25, -0.25), (0.25, 0.25),
                    (-0.25, 0.25), (-0.25, -0.25),
                    (-0.125, -0.125), (0.125, -0.125), (0.125, 0.125),
                    (-0.125, 0.125), (-0.125, -0.125)) AS o(dx, dy))
            GROUP BY r_name ORDER BY r_name"""))

  /** Polygon AREA through the full round trip: per nation, an exterior
    * square (CCW, half-width w = 0.25·(1 + nationkey mod 4)) with a CW hole
    * of half-width w/2; serialize → parse → explode rings → SHOELACE each
    * ring → signed sum per feature (exterior − hole = 3w²) → per-region
    * stats. The Spark side computes area GEOMETRICALLY from the parsed
    * coordinates; the oracle derives the same numbers ANALYTICALLY from
    * the construction (3w²) — two independent formulations that must agree
    * bit-exactly. Exactness: every coordinate is an exact binary fraction
    * (≤3 fractional bits), so each shoelace product and every partial sum
    * is exactly representable — double accumulation is order-independent
    * here, no decimal policy needed.
    */
  val qGeoPolygonArea = Q(
    "q_geo_polygon_area",
    (s, dir) => {
      def ring(hw: Column, ccw: Boolean) = {
        val corners = Seq((-1, -1), (1, -1), (1, 1), (-1, 1), (-1, -1))
          .map { case (sx, sy) =>
            array(col("cx") + hw * sx, col("cy") + hw * sy) }
        array((if (ccw) corners else corners.reverse): _*)
      }
      val joined = Tables.nation(s, dir)
        .join(Tables.region(s, dir),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").cast(LongType).as("feat_id"),
          col("r_name"),
          (col("n_nationkey") * 7 % 360 - 180 + 0.5).as("cx"),
          (col("n_nationkey") * 13 % 180 - 90 + 0.5).as("cy"),
          ((col("n_nationkey") % 4 + 1).cast(DoubleType) * 0.25).as("w"))
        .withColumn("rings",
          array(ring(col("w"), ccw = true),
            ring(col("w") * 0.5, ccw = false)))
      val features = toPolygonFeatureRows(joined, "feat_id", "rings",
        Seq("r_name"))
      val propSchema = StructType(Seq(StructField("r_name", StringType)))
      parsePolygonFeatureRows(features, "feature", LongType, propSchema)
        .select(col("id"), col("r_name"), explode(col("rings")).as("ring"))
        .withColumn("ring_area", ringSignedArea("ring"))
        .groupBy("id", "r_name")
        .agg(sum(col("ring_area")).as("area"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_feat"),
          sum(col("area")).as("total_area"),
          min(col("area")).as("min_area"),
          max(col("area")).as("max_area"))
        .orderBy("r_name")
    },
    Some("""SELECT r_name, count(*) AS n_feat,
                   sum(3 * w * w) AS total_area,
                   min(3 * w * w) AS min_area,
                   max(3 * w * w) AS max_area
            FROM (SELECT r.r_name,
                         CAST(0.25 * (1 + n.n_nationkey % 4) AS DOUBLE) AS w
                  FROM nation n JOIN region r
                    ON n.n_regionkey = r.r_regionkey)
            GROUP BY r_name ORDER BY r_name"""))

  /** MultiPolygon through the round trip: each nation is TWO disjoint
    * CCW squares ("islands" — half-widths w and w/2, centers cx∓2), so the
    * per-feature area is 4w² + w² = 5w². Same independent-formulation
    * oracle doctrine as q_geo_polygon_area: Spark parses the JSON and runs
    * shoelace over every (polygon, ring); the oracle derives 5w²
    * analytically. Exact binary fractions throughout.
    */
  val qGeoMultipolygonArea = Q(
    "q_geo_multipolygon_area",
    (s, dir) => {
      def ring(cxOff: Double, hw: Column) = {
        val corners = Seq((-1, -1), (1, -1), (1, 1), (-1, 1), (-1, -1))
          .map { case (sx, sy) =>
            array(col("cx") + cxOff + hw * sx, col("cy") + hw * sy) }
        array(corners: _*)
      }
      val joined = Tables.nation(s, dir)
        .join(Tables.region(s, dir),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").cast(LongType).as("feat_id"),
          col("r_name"),
          (col("n_nationkey") * 7 % 360 - 180 + 0.5).as("cx"),
          (col("n_nationkey") * 13 % 180 - 90 + 0.5).as("cy"),
          ((col("n_nationkey") % 4 + 1).cast(DoubleType) * 0.25).as("w"))
        .withColumn("polys", array(
          array(ring(-2.0, col("w"))),
          array(ring(2.0, col("w") * 0.5))))
      val features = toMultiPolygonFeatureRows(joined, "feat_id", "polys",
        Seq("r_name"))
      val propSchema = StructType(Seq(StructField("r_name", StringType)))
      parseMultiPolygonFeatureRows(features, "feature", LongType, propSchema)
        .select(col("id"), col("r_name"), posexplode(col("polys")))
        .select(col("id"), col("r_name"), col("pos").as("pidx"),
          explode(col("col")).as("ring"))
        .withColumn("ring_area", ringSignedArea("ring"))
        .groupBy("id", "r_name")
        .agg(countDistinct(col("pidx")).as("n_polys"),
          sum(col("ring_area")).as("area"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_feat"),
          sum(col("n_polys")).as("n_polys"),
          sum(col("area")).as("total_area"),
          min(col("area")).as("min_area"),
          max(col("area")).as("max_area"))
        .orderBy("r_name")
    },
    Some("""SELECT r_name, count(*) AS n_feat, count(*) * 2 AS n_polys,
                   sum(5 * w * w) AS total_area,
                   min(5 * w * w) AS min_area,
                   max(5 * w * w) AS max_area
            FROM (SELECT r.r_name,
                         CAST(0.25 * (1 + n.n_nationkey % 4) AS DOUBLE) AS w
                  FROM nation n JOIN region r
                    ON n.n_regionkey = r.r_regionkey)
            GROUP BY r_name ORDER BY r_name"""))

  /** Batch idempotent partition refresh — the lake-side analog of the
    * streaming epoch sink: with dynamic partitionOverwriteMode, an
    * overwrite write touching partitions {P} replaces exactly {P} and
    * leaves every other partition intact, so re-running a failed daily
    * build is idempotent and never truncates the table (static mode would
    * drop ALL partitions first).
    */
  def overwritePartitions(df: DataFrame, path: String,
                          partCol: String): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol)
      .parquet(path)

  /** Orders hive-partitioned by o_orderstatus: one dir-keyed store shared
    * by q_scan_partition_pruned and q_join_dpp. Read with an explicit
    * schema: a partitioned write of an EMPTY table leaves no footers to
    * infer from (empty-partition robustness); with real data named-column
    * access is layout-order-independent.
    */
  private def ordersByStatus(s: SparkSession, dir: String): DataFrame = {
    val path = dirKeyedTempPath(s, dir, "orders_by_status")
    Incremental.store(s, Seq(dir + "/orders.parquet"), Seq(path)) {
      Tables.orders(s, dir).write.partitionBy("o_orderstatus").parquet(path)
    }
    s.read.schema(Tables.ordersSchema).parquet(path)
  }

  /** Disk-partition pruning made driver-visible: write orders hive-
    * partitioned by o_orderstatus into the session temp root, read it back
    * with a partition predicate, and aggregate. At 100 TB this is THE scan
    * lever that dwarfs row-group pushdown — a pruned partition is never
    * listed, opened, or read (here 2 of 3 directory trees untouched), and
    * the predicate must show up in the scan's PartitionFilters, not as a
    * post-scan Filter (plan-asserted in PlanAuditSpec). The oracle
    * aggregates the original parquet directly, so a hash match also proves
    * the partitioned round trip lost nothing: o_orderstatus survives as a
    * directory key even though it is no longer a data column.
    *
    * The write is the [[ordersByStatus]] store, skipped when already
    * fresh, so bench re-timings measure the pruned read, not the rewrite.
    */
  val qScanPartitionPruned = Q(
    "q_scan_partition_pruned",
    (s, dir) => {
      ordersByStatus(s, dir)
        .where(col("o_orderstatus") === "F")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          graft.Det.dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    },
    Some(s"""SELECT o_orderpriority, count(*) AS n,
                    ${graft.Det.sqlSum("o_totalprice")} AS sum_price
             FROM orders WHERE o_orderstatus = 'F'
             GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  /** DYNAMIC partition pruning — the join-driven sibling of
    * q_scan_partition_pruned's static prune: the fact side is the same
    * dir-keyed orders store partitioned by o_orderstatus, but the status
    * filter is NOT a literal — it is the distinct l_linestatus values of
    * returned lineitems, known only at RUNTIME. Catalyst's DPP inserts a
    * `dynamicpruningexpression` subquery into the scan's PartitionFilters
    * (reusing the broadcast of the dim side), so only the matching
    * status partitions are ever read — at 100 TB the difference between
    * scanning one partition and scanning the table. The R12b spec
    * asserts the pruning expression is actually planted; the oracle is
    * the plain join over the logical tables (partitioning is layout, not
    * semantics).
    */
  val qJoinDpp = Q(
    "q_join_dpp",
    (s, dir) => {
      val facts = ordersByStatus(s, dir)
      val dim = Tables.lineitem(s, dir)
        .where(col("l_returnflag") === "R")
        .select(col("l_linestatus").as("status")).distinct()
      facts
        .join(broadcast(dim), col("o_orderstatus") === col("status"))
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          graft.Det.dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("o_orderstatus", "o_orderpriority")
    },
    Some(s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                    ${graft.Det.sqlSum("o_totalprice")} AS sum_price
             FROM orders
             JOIN (SELECT DISTINCT l_linestatus AS status FROM lineitem
                   WHERE l_returnflag = 'R') d
               ON o_orderstatus = d.status
             GROUP BY o_orderstatus, o_orderpriority
             ORDER BY o_orderstatus, o_orderpriority"""))

  /** The t2 BINARY-FILE query: the raw-bytes ingest path a multimodal
    * pipeline starts from (image/audio blobs land as FILES, not rows —
    * `binaryFile` is Spark's source for them; see Multimodal for the
    * downstream decode seam). Per-language corpus blobs are written as
    * real files (content = every doc's text joined in doc_id order — one
    * deterministic byte stream per lang), read BACK through
    * format("binaryFile"), and fingerprinted (length + md5). The oracle
    * computes the same fingerprint from the documents table directly, so
    * the hash match proves the file write → binary read path is
    * byte-exact. The files are an Incremental store per (session, dir),
    * like the partitioned-orders rewrite.
    */
  val qSourceBinaryfileRoundtrip = Q(
    "q_source_binaryfile_roundtrip",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val path = dirKeyedTempPath(s, dir, "binary_corpus")
      Incremental.store(s, Seq(s"$dir/documents.parquet"), Seq(path)) {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
        // executor-side writes, one file per language row — blob bytes
        // never funnel through the driver (a per-lang blob is the whole
        // language's corpus; collecting it is a driver OOM at scale). A
        // blob must still fit ONE TASK: enforce that boundedness instead
        // of assuming it — past the ceiling the right tool is a
        // multi-file-per-lang layout, not a bigger heap
        val maxBlobBytes = 256L << 20
        Tables.documents(s, dir)
          .groupBy("lang")
          .agg(expr("array_join(transform(array_sort(" +
            "collect_list(struct(doc_id, text))), p -> p.text), '\n')")
            .as("blob"))
          .foreachPartition {
            (it: Iterator[org.apache.spark.sql.Row]) =>
              it.foreach { r =>
                val bytes = r.getString(1).getBytes("UTF-8")
                require(bytes.length <= maxBlobBytes,
                  s"per-lang corpus blob for '${r.getString(0)}' is " +
                    s"${bytes.length} B (> $maxBlobBytes): shard the " +
                    "language across multiple files instead")
                java.nio.file.Files.write(
                  java.nio.file.Paths.get(path,
                    s"corpus_${r.getString(0)}.txt"), bytes)
              }
          }
      }
      s.read.format("binaryFile").load(path)
        .where(!col("path").endsWith("_SUCCESS"))
        .select(
          element_at(split(col("path"), "/"), -1).as("file_name"),
          col("length"),
          md5(col("content")).as("content_md5"))
        .orderBy("file_name")
    },
    Some("""SELECT 'corpus_' || lang || '.txt' AS file_name,
                   CAST(strlen(blob) AS BIGINT) AS length,
                   md5(blob) AS content_md5
            FROM (SELECT lang,
                         string_agg(text, chr(10) ORDER BY doc_id) AS blob
                  FROM documents GROUP BY lang)
            ORDER BY file_name"""))

  /** Tile-pyramid aggregation — the reference's actual end product shape
    * (per-tile counts per zoom feeding a map renderer). Equirectangular
    * tiling (x = ⌊(lon+180)/360·2^z⌋, y = ⌊(90−lat)/180·2^z⌋): pure
    * arithmetic over the exact binary-fraction synthetic coords, so tile
    * assignment is engine-exact — deliberately NOT WebMercator, whose
    * tan/cos differ from libm in the last ulp on ~0.5% of inputs (measured)
    * and could flip a floor at a tile boundary. Two zoom levels with the
    * parent derived by integer halving — the z→z−1 rollup a tiler runs for
    * every pyramid level; per-level counts are one bounded-key two-phase
    * aggregate each.
    */
  val qGeoTilePyramid = Q(
    "q_geo_tile_pyramid",
    (s, dir) => {
      val pts = Tables.customer(s, dir)
        .select(col("c_custkey"),
          (col("c_custkey") * 3 % 360 - 180 + 0.5).as("lon"),
          (col("c_custkey") * 11 % 180 - 90 + 0.5).as("lat"))
        .withColumn("x4",
          floor((col("lon") + 180.0) / 360.0 * 16.0).cast("int"))
        .withColumn("y4",
          floor((lit(90.0) - col("lat")) / 180.0 * 16.0).cast("int"))
      val z4 = pts.groupBy("x4", "y4")
        .agg(count(lit(1)).as("n_points"))
        .select(lit(4).as("z"), col("x4").as("x"), col("y4").as("y"),
          col("n_points"))
      val z3 = pts
        .select((col("x4") / 2).cast("int").as("x"),
          (col("y4") / 2).cast("int").as("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("n_points"))
        .select(lit(3).as("z"), col("x"), col("y"), col("n_points"))
      z4.unionAll(z3).orderBy("z", "x", "y")
    },
    Some("""WITH pts AS (SELECT
                   CAST(floor((CAST(c_custkey * 3 % 360 - 180 + 0.5
                                    AS DOUBLE) + 180.0)
                        / 360.0 * 16.0) AS INTEGER) AS x4,
                   CAST(floor((90.0 - CAST(c_custkey * 11 % 180 - 90 + 0.5
                                           AS DOUBLE))
                        / 180.0 * 16.0) AS INTEGER) AS y4
                 FROM customer)
            SELECT 4 AS z, x4 AS x, y4 AS y, count(*) AS n_points
            FROM pts GROUP BY x4, y4
            UNION ALL
            SELECT 3, x4 // 2, y4 // 2, count(*)
            FROM pts GROUP BY x4 // 2, y4 // 2
            ORDER BY z, x, y"""))

  /** Point-in-polygon containment by RAY CASTING (the spatial-join
    * kernel under geocoding, geofencing, point-aggregation-by-district):
    * customer points vs the nation squares-with-holes, crossing-number
    * over every ring edge — odd total = inside (the hole subtracts by
    * parity, no orientation needed). The Spark side runs the REAL
    * general-polygon algorithm (per-edge y-straddle test + ray/edge
    * intersection, a higher-order aggregate over the edge list — works
    * unchanged for arbitrary simple polygons); the oracle derives
    * containment ANALYTICALLY from the construction (|p−c| interval
    * tests) — the q_geo_polygon_area independent-formulation doctrine.
    * Exactness: every coordinate is an exact binary-and-decimal fraction
    * (centers k+0.5, half-widths k/4, point offsets odd multiples of
    * 1/16 so a point can NEVER lie on a boundary); for axis-aligned
    * edges the ray intersection is exact (vertical edge → zero-product
    * term; horizontal edge → straddle test false), so every comparison
    * is on exact doubles in both engines. Scale: the 25-row polygon
    * table broadcasts onto the point scan (a broadcast NL spatial join —
    * at planetary row counts you'd pre-bucket by q_geo_grid_join's cell
    * key and ray-cast only within candidate cells); the ring→edge
    * transform is materialized ONCE per polygon row BEFORE the join
    * (inside the per-pair expression it re-evaluates per (point,
    * polygon) — measured 3.9 s vs this shape at sf0.1), a conservative
    * bbox test gates the exact cast (the coarse-filter/exact-test
    * contract of every spatial engine; bbox-boundary points pass the
    * filter and are rejected by the cast, so results are identical),
    * and the per-feature rollup is a bounded-key two-phase aggregate.
    */
  val qGeoPointInPolygon = Q(
    "q_geo_point_in_polygon",
    (s, dir) => {
      def ring(hw: Column, ccw: Boolean) = {
        val corners = Seq((-1, -1), (1, -1), (1, 1), (-1, 1), (-1, -1))
          .map { case (sx, sy) =>
            array(col("cx") + hw * sx, col("cy") + hw * sy) }
        array((if (ccw) corners else corners.reverse): _*)
      }
      val geom = Tables.nation(s, dir)
        .select(col("n_nationkey").cast(LongType).as("feat_id"),
          (col("n_nationkey") * 7 % 360 - 180 + 0.5).as("cx"),
          (col("n_nationkey") * 13 % 180 - 90 + 0.5).as("cy"),
          ((col("n_nationkey") % 4 + 1).cast(DoubleType) * 0.25).as("w"))
        .withColumn("rings",
          array(ring(col("w"), ccw = true), ring(col("w") * 0.5, ccw = false)))
        // edge list + bbox materialized per polygon ROW, not per pair
        .withColumn("edges", expr(
          """flatten(transform(rings, r -> transform(
               sequence(1, size(r) - 1),
               i -> array(element_at(r, i), element_at(r, i + 1)))))"""))
        .withColumn("bxmin", expr(
          "aggregate(edges, cast('Infinity' AS DOUBLE), " +
            "(m, e) -> least(m, element_at(element_at(e, 1), 1)))"))
        .withColumn("bxmax", expr(
          "aggregate(edges, cast('-Infinity' AS DOUBLE), " +
            "(m, e) -> greatest(m, element_at(element_at(e, 1), 1)))"))
        .withColumn("bymin", expr(
          "aggregate(edges, cast('Infinity' AS DOUBLE), " +
            "(m, e) -> least(m, element_at(element_at(e, 1), 2)))"))
        .withColumn("bymax", expr(
          "aggregate(edges, cast('-Infinity' AS DOUBLE), " +
            "(m, e) -> greatest(m, element_at(element_at(e, 1), 2)))"))
        .select("feat_id", "cx", "cy", "edges",
          "bxmin", "bxmax", "bymin", "bymax")
      val pts = Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(geom.select(col("feat_id").as("home"),
          col("cx").as("hcx"), col("cy").as("hcy"))),
          col("c_nationkey") === col("home"))
        .select(col("c_custkey"),
          (col("hcx") + (col("c_custkey") * 7 % 41 - 20) * 0.125 + 0.0625)
            .as("px"),
          (col("hcy") + (col("c_custkey") * 13 % 41 - 20) * 0.125 + 0.0625)
            .as("py"))
      pts.join(broadcast(geom),
          col("px") >= col("bxmin") && col("px") <= col("bxmax") &&
            col("py") >= col("bymin") && col("py") <= col("bymax"))
        // r22 (verdict #5): the per-pair ray cast is the RayCrossings
        // codegen kernel — the interpreted aggregate() lambda over the
        // edge list ran once per BNLJ candidate pair (~375 k at sf0.1)
        // and never entered whole-stage codegen. Identical per-edge
        // arithmetic in the same order (same straddle short-circuit),
        // so crossings is bit-identical; pinned by R22OptSpec against
        // the replaced HOF chain.
        .withColumn("crossings", expr("ray_crossings(edges, px, py)"))
        .where(col("crossings") % 2 === 1)
        .groupBy("feat_id")
        .agg(count(lit(1)).as("n_inside"),
          sum(col("c_custkey")).as("sum_keys"))
        .orderBy("feat_id")
    },
    Some("""WITH geom AS (SELECT CAST(n_nationkey AS BIGINT) AS feat_id,
                   CAST(n_nationkey * 7 % 360 - 180 + 0.5 AS DOUBLE) AS cx,
                   CAST(n_nationkey * 13 % 180 - 90 + 0.5 AS DOUBLE) AS cy,
                   CAST(0.25 * (1 + n_nationkey % 4) AS DOUBLE) AS w
                 FROM nation),
            pts AS (SELECT c.c_custkey,
                      g.cx + CAST((c.c_custkey * 7 % 41 - 20) * 0.125
                                  + 0.0625 AS DOUBLE) AS px,
                      g.cy + CAST((c.c_custkey * 13 % 41 - 20) * 0.125
                                  + 0.0625 AS DOUBLE) AS py
                    FROM customer c
                    JOIN geom g ON g.feat_id = c.c_nationkey),
            hits AS (SELECT g.feat_id, p.c_custkey
                     FROM pts p CROSS JOIN geom g
                     WHERE abs(p.px - g.cx) < g.w
                       AND abs(p.py - g.cy) < g.w
                       AND NOT (abs(p.px - g.cx) < g.w / 2
                                AND abs(p.py - g.cy) < g.w / 2))
            SELECT feat_id, count(*) AS n_inside,
                   CAST(sum(c_custkey) AS BIGINT) AS sum_keys
            FROM hits GROUP BY feat_id ORDER BY feat_id"""))

  /** Weighted centroid per region — the label-placement / cluster-center
    * computation a map pipeline runs per feature group (the tile
    * renderer's "where does the marker go"): Σwᵢ·xᵢ / Σwᵢ with integer
    * weights over the exact binary-fraction synthetic coords (products
    * are exact doubles; the Det decimal sum keeps the reduction
    * order-free), one IEEE division per axis at the end — shared
    * spelling both engines. Scale: one bounded-key two-phase aggregate
    * over the point scan; weights and coords are the only columns read.
    */
  val qGeoCentroidWeighted = Q(
    "q_geo_centroid_weighted",
    (s, dir) => {
      val pts = Tables.customer(s, dir)
        .select(col("c_mktsegment").as("segment"),
          (col("c_custkey") * 3 % 360 - 180 + 0.5).as("lon"),
          (col("c_custkey") * 11 % 180 - 90 + 0.5).as("lat"),
          (col("c_custkey") % 10 + 1).as("w"))
      pts.groupBy("segment")
        .agg(count(lit(1)).as("n_points"),
          sum(col("w")).as("w_sum"),
          (sum((col("w") * col("lon")).cast(graft.Det.Dec))
            .cast(DoubleType) /
            sum(col("w")).cast(DoubleType)).as("cx"),
          (sum((col("w") * col("lat")).cast(graft.Det.Dec))
            .cast(DoubleType) /
            sum(col("w")).cast(DoubleType)).as("cy"))
        .orderBy("segment")
    },
    Some("""WITH pts AS (SELECT c_mktsegment AS segment,
                   CAST(c_custkey * 3 % 360 - 180 + 0.5 AS DOUBLE) AS lon,
                   CAST(c_custkey * 11 % 180 - 90 + 0.5 AS DOUBLE) AS lat,
                   c_custkey % 10 + 1 AS w
                 FROM customer)
            SELECT segment, count(*) AS n_points,
                   CAST(sum(w) AS BIGINT) AS w_sum,
                   CAST(SUM(CAST((w * lon) AS DECIMAL(38,6))) AS DOUBLE)
                     / CAST(CAST(sum(w) AS BIGINT) AS DOUBLE) AS cx,
                   CAST(SUM(CAST((w * lat) AS DECIMAL(38,6))) AS DOUBLE)
                     / CAST(CAST(sum(w) AS BIGINT) AS DOUBLE) AS cy
            FROM pts GROUP BY segment ORDER BY segment"""))

  /** Schema evolution — the lakehouse reality every long-lived table hits:
    * an early epoch written WITHOUT a column, a later epoch with it, one
    * mergeSchema read over both that surfaces the union schema with NULLs
    * where the old files have no column. Epoch membership is
    * deterministic (p_partkey parity), so the oracle reconstructs the
    * same union from the source table with a CASE — the hash match
    * proves the merged read null-fills exactly where it should and
    * preserves every present value. Scale note: mergeSchema=true footer-
    * merges ALL files — at 100 TB you pin the union schema in a
    * catalog/metastore and read with an EXPLICIT schema instead (the
    * option here demonstrates the semantics; the explicit-schema read is
    * what this repo's Tables loaders already do everywhere else).
    */
  val qSourceMergeSchema = Q(
    "q_source_merge_schema",
    (s, dir) => {
      val base = Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand"),
          round(col("p_retailprice") * 100)
            .cast(org.apache.spark.sql.types.DecimalType(18, 0))
            .cast(LongType).as("price_cents"), col("p_size"))
      val path = dirKeyedTempPath(s, dir, "merge_schema")
      base.where(col("p_partkey") % 2 === 0)
        .drop("p_size")
        .write.mode("overwrite").parquet(s"$path/epoch=1")
      base.where(col("p_partkey") % 2 === 1)
        .write.mode("overwrite").parquet(s"$path/epoch=2")
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"),
          sum(col("price_cents")).as("sum_cents"),
          count(col("p_size")).as("n_sized"),
          sum(coalesce(col("p_size"), lit(0))).as("size_sum"))
        .orderBy("p_brand")
    },
    Some(s"""SELECT p_brand, count(*) AS n,
                   CAST(sum(${Det.sqlRoundCents("p_retailprice")})
                     AS BIGINT) AS sum_cents,
                   count(CASE WHEN p_partkey % 2 = 1 THEN p_size END)
                     AS n_sized,
                   CAST(sum(CASE WHEN p_partkey % 2 = 1 THEN p_size
                                 ELSE 0 END) AS BIGINT) AS size_sum
            FROM part GROUP BY p_brand ORDER BY p_brand"""))

  /** Malformed-record ingestion — the dirty-feed reality every CSV load
    * meets (truncated lines, non-numeric junk in numeric columns): a
    * text feed is synthesized IN-PLAN with deterministic corruption
    * (key ≡ 0 mod 7 → wrong arity; key ≡ 3 mod 7 → unparseable numeric)
    * and read back through the PERMISSIVE path (explicit schema +
    * `_corrupt_record`), proving the quarantine contract: corrupt rows
    * are captured, not dropped or fatal, and good rows parse fully. The
    * oracle never reads the CSV — it recomputes the good/corrupt census
    * ANALYTICALLY from the corruption rule (the multimodal-decode oracle
    * doctrine applied to the text-ingest seam). Scale: text write/read
    * and the classifying aggregate are embarrassingly parallel; the
    * quarantine column rides the scan, no second pass.
    */
  val qSourceCsvMalformed = Q(
    "q_source_csv_malformed",
    (s, dir) => {
      val path = dirKeyedTempPath(s, dir, "csv_malformed")
      Incremental.store(s, Seq(s"$dir/customer.parquet"), Seq(path)) {
        Tables.customer(s, dir).select(expr(
          "CASE WHEN c_custkey % 7 = 0 THEN CAST(c_custkey AS STRING) " +
            "WHEN c_custkey % 7 = 3 THEN concat(CAST(c_custkey AS STRING)," +
            " ',cust_', CAST(c_custkey AS STRING), ',notanumber') " +
            "ELSE concat(CAST(c_custkey AS STRING), ',cust_', " +
            "CAST(c_custkey AS STRING), ',', " +
            "CAST(c_custkey * 17 % 100000 AS STRING)) END").as("value"))
          .write.text(path)
      }
      val schema = StructType(Seq(
        StructField("k", LongType), StructField("name", StringType),
        StructField("cents", LongType)))
      // classification keys on the FIELD (cents is never null in a clean
      // row by construction): _corrupt_record captures only the
      // wrong-arity class in Spark's parser, while a failed numeric
      // conversion nulls the field — cents IS NULL covers both classes
      // engine-independently (the unit-level _corrupt_record contract is
      // pinned in SourcesSinksSpec)
      readCsvPermissive(s, path, schema, header = false)
        .agg(
          count(col("cents")).as("n_good"),
          count(when(col("cents").isNull, lit(1))).as("n_corrupt"),
          sum(col("cents")).as("good_cents"))
    },
    Some("""SELECT
              CAST(count(CASE WHEN c_custkey % 7 NOT IN (0, 3) THEN 1 END)
                AS BIGINT) AS n_good,
              CAST(count(CASE WHEN c_custkey % 7 IN (0, 3) THEN 1 END)
                AS BIGINT) AS n_corrupt,
              CAST(sum(CASE WHEN c_custkey % 7 NOT IN (0, 3)
                       THEN c_custkey * 17 % 100000 END)
                AS BIGINT) AS good_cents
            FROM customer"""))

  /** Time travel through the versioned-manifest commit log
    * (ManifestTable) — three deterministic commits (v1 insert the
    * orderkey%3=0 slice of orders, v2 APPEND the %3=1 slice, v3
    * OVERWRITE with the 1-URGENT snapshot), then read EVERY version
    * back through its manifest and emit per-version row count, exact
    * cents sum, and distinct-key count. The DuckDB oracle replays
    * version membership from the same deterministic predicates — a
    * hash match proves the commit log published exactly the right
    * file sets AND that snapshot isolation holds (v1/v2 read AFTER
    * the v3 overwrite still see their own files: overwrite republishes
    * the manifest, never deletes data). The three commits are one
    * Incremental store (the table root carries the _SUCCESS marker,
    * which the manifest never lists), so re-runs in a warm session read
    * the same three versions instead of appending more.
    * Scale: commits are manifest metadata — cost independent of data
    * volume; the three reads plan from explicit file lists.
    */
  val qTableTimeTravel = Q(
    "q_table_time_travel",
    (s, dir) => {
      val root = dirKeyedTempPath(s, dir, "ttravel")
      Incremental.store(s, Seq(s"$dir/orders.parquet"), Seq(root)) {
        val o = Tables.orders(s, dir).select(col("o_orderkey"),
          Det.roundCents("o_totalprice").as("cents"),
          col("o_orderpriority").as("pri"))
        ManifestTable.commit(s, root,
          o.where(pmod(col("o_orderkey"), lit(3)) === 0),
          overwrite = false)
        ManifestTable.commit(s, root,
          o.where(pmod(col("o_orderkey"), lit(3)) === 1),
          overwrite = false)
        ManifestTable.commit(s, root,
          o.where(col("pri") === "1-URGENT"), overwrite = true)
      }
      (1 to 3).map { v =>
        ManifestTable.readAt(s, root, v)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("cents")).as("sum_cents"),
            countDistinct(col("o_orderkey")).as("n_keys"))
          .select(lit(v).as("version"), col("n_rows"),
            col("sum_cents"), col("n_keys"))
      }.reduce(_.unionAll(_)).orderBy("version")
    },
    Some(s"""WITH o AS (SELECT o_orderkey,
                    ${Det.sqlRoundCents("o_totalprice")} AS cents,
                    o_orderpriority AS pri
                  FROM orders)
            SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(cents) AS BIGINT) AS sum_cents,
                   CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys
            FROM o WHERE ((o_orderkey % 3) + 3) % 3 = 0
            UNION ALL
            SELECT 2, CAST(count(*) AS BIGINT),
                   CAST(sum(cents) AS BIGINT),
                   CAST(count(DISTINCT o_orderkey) AS BIGINT)
            FROM o WHERE ((o_orderkey % 3) + 3) % 3 IN (0, 1)
            UNION ALL
            SELECT 3, CAST(count(*) AS BIGINT),
                   CAST(sum(cents) AS BIGINT),
                   CAST(count(DISTINCT o_orderkey) AS BIGINT)
            FROM o WHERE pri = '1-URGENT'
            ORDER BY version"""))

  /** Haversine nearest-hub assignment — the great-circle routing /
    * geofencing primitive the planar geo family can't express (at
    * continental scale a flat-earth distance misranks hubs):
    * deterministic customer coordinates and 5 region hubs (synthetic —
    * the corpus carries no lat/lon; the formula path is the product),
    * half-angle haversine with the asin argument CLAMPED at 1 (the
    * float guard — sqrt can land an ulp above), round-6 km distances
    * (the shared-libm last-ulp fence), argmin via a 5-row bounded
    * per-customer window with hub tie-break, per-hub census with
    * Dec12-exact mean distance. Scale: hubs broadcast; the fan-out is
    * customers × 5, one pass.
    */
  val qGeoHaversine = Q(
    "q_geo_haversine",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pts = Tables.customer(s, dir)
        .select(col("c_custkey").as("ck"),
          expr("CAST(c_custkey * 37 % 1600 AS DOUBLE)" +
            " / CAST(10 AS DOUBLE) - CAST(80 AS DOUBLE)").as("lat"),
          expr("CAST(c_custkey * 73 % 3600 AS DOUBLE)" +
            " / CAST(10 AS DOUBLE) - CAST(180 AS DOUBLE)").as("lon"))
      val hubs = Tables.region(s, dir)
        .select(col("r_regionkey").as("hub"),
          expr("CAST(r_regionkey * 31 % 140 AS DOUBLE)" +
            " - CAST(70 AS DOUBLE)").as("lath"),
          expr("CAST(r_regionkey * 67 % 360 AS DOUBLE)" +
            " - CAST(180 AS DOUBLE)").as("lonh"))
      val hav = "sin(radians((lath - lat) / CAST(2 AS DOUBLE)))" +
        " * sin(radians((lath - lat) / CAST(2 AS DOUBLE)))" +
        " + cos(radians(lat)) * cos(radians(lath))" +
        " * sin(radians((lonh - lon) / CAST(2 AS DOUBLE)))" +
        " * sin(radians((lonh - lon) / CAST(2 AS DOUBLE)))"
      val d = pts.crossJoin(broadcast(hubs))
        .withColumn("dist_km", expr(
          s"round(CAST(2 AS DOUBLE) * CAST(6371 AS DOUBLE)" +
            s" * asin(least(CAST(1 AS DOUBLE), sqrt($hav))), 6)"))
      val w = Window.partitionBy("ck")
        .orderBy(col("dist_km"), col("hub"))
      d.withColumn("rk", row_number().over(w))
        .where(col("rk") === 1)
        .groupBy("hub")
        .agg(count(lit(1)).as("n_assigned"),
          graft.Det.davg(col("dist_km")).as("mean_dist_km"),
          max(col("dist_km")).as("max_dist_km"))
        .orderBy("hub")
    },
    Some("""WITH pts AS (SELECT c_custkey AS ck,
                    CAST(c_custkey * 37 % 1600 AS DOUBLE)
                      / CAST(10 AS DOUBLE) - CAST(80 AS DOUBLE) AS lat,
                    CAST(c_custkey * 73 % 3600 AS DOUBLE)
                      / CAST(10 AS DOUBLE) - CAST(180 AS DOUBLE) AS lon
                  FROM customer),
             hubs AS (SELECT r_regionkey AS hub,
                    CAST(r_regionkey * 31 % 140 AS DOUBLE)
                      - CAST(70 AS DOUBLE) AS lath,
                    CAST(r_regionkey * 67 % 360 AS DOUBLE)
                      - CAST(180 AS DOUBLE) AS lonh
                  FROM region),
             d AS (SELECT ck, hub,
                     round(CAST(2 AS DOUBLE) * CAST(6371 AS DOUBLE)
                       * asin(least(CAST(1 AS DOUBLE), sqrt(
                         sin(radians((lath - lat) / CAST(2 AS DOUBLE)))
                         * sin(radians((lath - lat)
                               / CAST(2 AS DOUBLE)))
                         + cos(radians(lat)) * cos(radians(lath))
                         * sin(radians((lonh - lon)
                               / CAST(2 AS DOUBLE)))
                         * sin(radians((lonh - lon)
                               / CAST(2 AS DOUBLE)))))), 6) AS dist_km
                   FROM pts CROSS JOIN hubs),
             a AS (SELECT ck, hub, dist_km,
                     row_number() OVER (PARTITION BY ck
                       ORDER BY dist_km, hub) AS rk
                   FROM d)
            SELECT hub, CAST(count(*) AS BIGINT) AS n_assigned,
                   CAST(SUM(CAST((dist_km) AS DECIMAL(38,6))) AS DOUBLE) / CAST(COUNT(dist_km) AS DOUBLE) AS mean_dist_km,
                   max(dist_km) AS max_dist_km
            FROM a WHERE rk = 1 GROUP BY hub ORDER BY hub"""))

  /** Quoted-CSV roundtrip — the QUOTING contract (csv_roundtrip proves
    * plain values survive; csv_malformed proves bad rows quarantine;
    * this proves the hard middle: fields containing the delimiter,
    * embedded double quotes, and leading/trailing spaces survive the
    * writer's quote/escape conventions byte-exactly): a deterministic
    * adversarial string is built IN-PLAN from each order (commas,
    * doubled quotes, a quoted template), written through the standard
    * CSV sink, read back through the standard source, and censused by
    * (count, Σlength, Σ portable hash) per priority — the hash sum is
    * order-free and byte-sensitive, so a match proves losslessness.
    * The oracle recomputes the census ANALYTICALLY from the
    * construction rule and never reads the CSV (csv_malformed
    * doctrine). Newlines-in-fields are deliberately excluded: reading
    * them needs multiLine=true, which makes files UNSPLITTABLE — the
    * 100 TB posture is to forbid them at write time, stated here. */
  val qSourceCsvQuoted = Q(
    "q_source_csv_quoted",
    (s, dir) => {
      val desc = "concat('p=\"', o_orderpriority, '\", k=', " +
        "CAST(o_custkey AS STRING), ', t=\"ab,c\"\"d\" ')"
      val slim = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"),
          expr(desc).as("note"))
      val path = dirKeyedTempPath(s, dir, "csv_quoted")
      // the writer's ignore*WhiteSpace options default TRUE — Spark
      // silently TRIMS field edges on write (the reader does not), so a
      // roundtrip of space-padded fields is lossy unless the writer is
      // told otherwise. That asymmetry is exactly the contract this
      // query pins: preserve-whitespace is part of the sink's spec.
      slim.write.mode("overwrite")
        .option("header", "true")
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
      readCsv(s, path, slim.schema)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(length(col("note"))).as("sum_len"),
          sum(graft.Det.pHash32(col("note"))).as("hash_sum"))
        .orderBy("o_orderpriority")
    },
    Some {
      val desc = "concat('p=\"', o_orderpriority, '\", k=', " +
        "CAST(o_custkey AS VARCHAR), ', t=\"ab,c\"\"d\" ')"
      val h = graft.Det.sqlPHash32(desc)
      s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(length($desc)) AS BIGINT) AS sum_len,
                 CAST(sum($h) AS BIGINT) AS hash_sum
          FROM orders GROUP BY o_orderpriority
          ORDER BY o_orderpriority"""
    })

  val all: Seq[Q] =
    Seq(qSourceCsvQuoted,
      qSourceMergeSchema, qSourceCsvMalformed, qTableTimeTravel,
      qGeoHaversine,
      qGeoBboxRoundtrip, qGeoPolygonBbox, qGeoPolygonArea,
      qGeoMultipolygonArea, qSourceOrcRoundtrip, qSourceXmlRoundtrip,
      qSourceCsvRoundtrip, qSourceJsonlRoundtrip,
      qScanPartitionPruned, qJoinDpp, qSourceBinaryfileRoundtrip,
      qGeoTilePyramid,
      qGeoPointInPolygon, qGeoCentroidWeighted)
}
