package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType}
import graft.{Det, Q}
import graft.sources.Tables

/** Multi-dimensional data LAYOUT for scan pruning — the write-side half of
  * "filters reach the parquet scan". Parquet row-group min/max stats prune
  * a scan only when the file layout CLUSTERS the filtered columns; a linear
  * sort clusters exactly one column and leaves every other filter column
  * with full-range stats in every file. Z-ORDERING (bit-interleaved Morton
  * key, the technique behind Delta/Iceberg OPTIMIZE ZORDER BY) gives every
  * interleaved column locality at once: sorting by the interleaved key
  * bounds each file's span in ALL dimensions to ~range/2^(bits_per_file/d),
  * so a conjunctive range filter on any subset of the z-columns skips most
  * row groups at 100 TB instead of reading them.
  *
  * Pure public-algorithm implementation: the Morton key is a plain Catalyst
  * expression tree (shift/and/or — whole-stage-codegen friendly, no UDF),
  * the clustering is repartitionByRange + sortWithinPartitions on the key
  * (range partitioner ⇒ files tile the z-curve), and the key column is
  * dropped before the write so the layout is invisible to readers.
  */
object Layout {

  /** 2-D Morton (Z-order) key: interleave the low `bits` bits of two
    * non-negative integer columns (a in the odd positions, b in the even).
    * 21 bits per dimension fills 42 of a long's 63 value bits — callers
    * with wider domains range-bucket to 2^21 first (at 100 TB the z-key is
    * computed on the bucket rank, not the raw value, which also handles
    * skew: equal-frequency buckets spread hot keys across the curve).
    */
  def zKey(a: Column, b: Column, bits: Int = 21): Column =
    (0 until bits).flatMap { i =>
      Seq(
        shiftleft(shiftright(a.cast(LongType), i).bitwiseAND(lit(1L)),
          2 * i + 1),
        shiftleft(shiftright(b.cast(LongType), i).bitwiseAND(lit(1L)),
          2 * i))
    }.reduce(_ bitwiseOR _)

  /** Cluster `df` on the z-curve of (a, b) into `numFiles` range slices,
    * each internally z-sorted — the shape a parquet writer turns into
    * per-file min/max stats that prune in BOTH dimensions.
    */
  def zorderBy(df: DataFrame, a: Column, b: Column, numFiles: Int,
               bits: Int = 21): DataFrame = {
    // helper column must not silently overwrite (then drop) a same-named
    // input column — pick the first suffix absent from the schema
    val zk = LazyList.from(0).map(i => if (i == 0) "__zk" else s"__zk$i")
      .find(n => !df.columns.contains(n)).get
    val keyed = df.withColumn(zk, zKey(a, b, bits))
    keyed.repartitionByRange(numFiles, col(zk))
      .sortWithinPartitions(zk)
      .drop(zk)
  }

  /** Z-ordered lineitem materialized ONCE per (session, input dir) — same
    * Incremental seam as Llm.pairTable, keyed collision-free by an md5 of
    * the dir. First consumer in a session pays the clustering write;
    * every later read (verify re-runs, bench re-times) hits the parquet.
    */
  private def zorderedLineitem(s: SparkSession, dir: String): DataFrame = {
    val out = graft.sources.SourcesSinks
      .dirKeyedTempPath(s, dir, "lineitem_zorder")
    val (df, _) = graft.sources.Incremental.materialize(
      s, Seq(s"$dir/lineitem.parquet"), out)(
      zorderBy(Tables.lineitem(s, dir),
        col("l_partkey"), col("l_suppkey"), numFiles = 8))
    df
  }

  /** The z-ordered table actually being QUERIED: a conjunctive range filter
    * on both z-columns + exact aggregate, hash-matched against the oracle
    * running the SAME filter on the ORIGINAL (unclustered) table — proving
    * the layout op preserved every row while LayoutSpec proves the
    * clustering (per-slice span shrinks in both dimensions, which is what
    * row-group pruning consumes at scale).
    */
  val qLayoutZorder = Q(
    "q_layout_zorder",
    (s, dir) =>
      zorderedLineitem(s, dir)
        // ranges chosen inside the SMALLEST scale factor's key domain
        // (sf0.001: partkey 0-199, suppkey 0-9) so the query selects rows
        // at every SF
        .where(col("l_partkey").between(20, 150) &&
          col("l_suppkey").between(2, 7))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * 100)
            .cast(DecimalType(18, 0)).cast(LongType)).as("sum_cents"),
          min(col("l_orderkey")).as("min_okey"),
          max(col("l_orderkey")).as("max_okey"))
        .orderBy("l_returnflag"),
    Some(s"""SELECT l_returnflag, count(*) AS n,
                   CAST(sum(${Det.sqlRoundCents("l_extendedprice")})
                     AS BIGINT) AS sum_cents,
                   min(l_orderkey) AS min_okey, max(l_orderkey) AS max_okey
            FROM lineitem
            WHERE l_partkey BETWEEN 20 AND 150
              AND l_suppkey BETWEEN 2 AND 7
            GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Small-file COMPACTION — the other chronic layout pathology at scale:
    * a streaming sink or over-parallel writer leaves thousands of KB-sized
    * files, and every downstream scan pays per-file open/footer/metadata
    * cost (plus driver memory for the file index) until someone rewrites
    * the table. Bin-packs the input to ceil(bytes/targetBytes) output
    * files via `coalesce` — a NARROW dependency (partition merge, no
    * shuffle, no sort): at 100 TB compaction must not pay a full exchange
    * just to concatenate row groups. Use zorderBy instead when the rewrite
    * should also re-cluster (that one necessarily shuffles).
    *
    * Returns (filesBefore, filesAfter). Writes to a NEW directory — the
    * atomic swap (rename/metastore pointer flip) is the caller's
    * transaction boundary, same idempotency doctrine as
    * SourcesSinks.overwritePartitions.
    */
  def compact(s: SparkSession, inDir: String, outDir: String,
              targetBytes: Long): (Int, Int) = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(inDir), s.sparkContext.hadoopConfiguration)
    def dataFiles(d: String) =
      fs.listStatus(new org.apache.hadoop.fs.Path(d))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val before = dataFiles(inDir)
    val nOut = math.max(1,
      math.ceil(before.map(_.getLen).sum.toDouble / targetBytes).toInt)
    s.read.parquet(inDir).coalesce(nOut)
      .write.mode("overwrite").parquet(outDir)
    (before.length, dataFiles(outDir).length)
  }

  /** The t2 COMPACTION query — proves the rewrite is value-lossless, not
    * just file-count-smaller: fragment a slim orders projection into 32
    * deliberately-small files (the streaming-sink pathology, synthesized),
    * bin-pack them back with [[compact]], then read the compacted table
    * and aggregate. The oracle runs the same aggregate on the ORIGINAL
    * parquet table, so a hash match certifies no row was lost, duplicated
    * or altered by fragment→compact. The fixture + rewrite are built once
    * per (session, input dir) as one two-output Incremental store;
    * re-runs read the compacted parquet directly.
    */
  val qLayoutCompact = Q(
    "q_layout_compact",
    (s, dir) => {
      val smallOut = graft.sources.SourcesSinks
        .dirKeyedTempPath(s, dir, "compact_small")
      val bigOut = graft.sources.SourcesSinks
        .dirKeyedTempPath(s, dir, "compact_big")
      graft.sources.Incremental.store(s, Seq(s"$dir/orders.parquet"),
          Seq(smallOut, bigOut)) {
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            round(col("o_totalprice") * 100)
              .cast(DecimalType(18, 0)).cast(LongType).as("price_cents"))
          .repartition(32)
          .write.parquet(smallOut)
        val (nBefore, nAfter) =
          compact(s, smallOut, bigOut, targetBytes = 128L << 20)
        // an EMPTY/tiny input can land as a single file before compaction
        // — already minimal, nothing to reduce (empty-partition class)
        require(nAfter < nBefore || nBefore <= 1,
          s"compaction did not reduce file count ($nBefore -> $nAfter)")
      }
      s.read.parquet(bigOut)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum(col("price_cents")).as("sum_cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .orderBy("o_orderstatus")
    },
    Some(s"""SELECT o_orderstatus, count(*) AS n,
                   CAST(sum(${Det.sqlRoundCents("o_totalprice")})
                     AS BIGINT) AS sum_cents,
                   min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
            FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** Encoding advisor — run-length statistics of a low-cardinality column
    * under the table's write order (the read-side complement of zorder:
    * zorder decides WHERE rows go, this measures what an encoding gains
    * once they're there — parquet RLE/dictionary pages compress runs, so
    * runs-per-row IS the size estimate a layout decision needs): within
    * each (flag, ship-day) segment, rows ordered by the natural write key
    * (orderkey, linenumber), a run boundary is any l_linestatus change
    * (lag ≠ current, first row of a segment starts one); rolled up per
    * flag as n_rows, n_runs, mean run length and the RLE entry ratio.
    * Day-segmented by design (the changepoint_cusum calendar-day
    * justification): run counts are exact per segment and the partition
    * axis is O(days), never O(rows); a run spanning a day boundary counts
    * once per segment, which the oracle mirrors — segmentation is the
    * operator's stated contract, not an approximation of a global count.
    */
  val qLayoutRleStats = Q(
    "q_layout_rle_stats",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window
        .partitionBy(col("flag"), col("d"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("v"))
      Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("flag"),
          to_date(col("l_shipdate")).as("d"),
          col("l_orderkey"), col("l_linenumber"),
          col("l_linestatus").as("v"))
        .withColumn("brk",
          when(lag(col("v"), 1).over(w).isNull ||
            lag(col("v"), 1).over(w) =!= col("v"), 1L).otherwise(0L))
        .groupBy("flag")
        .agg(count(lit(1)).as("n_rows"), sum(col("brk")).as("n_runs"))
        .select(col("flag"), col("n_rows"), col("n_runs"),
          expr("CAST(n_rows AS DOUBLE) / CAST(n_runs AS DOUBLE)")
            .as("mean_run_len"),
          expr("CAST(n_runs AS DOUBLE) / CAST(n_rows AS DOUBLE)")
            .as("rle_ratio"))
        .orderBy("flag")
    },
    Some("""WITH seg AS (SELECT l_returnflag AS flag,
                    CAST(l_shipdate AS DATE) AS d,
                    l_orderkey, l_linenumber, l_linestatus AS v
                  FROM lineitem),
             b AS (SELECT flag,
                     CASE WHEN lag(v, 1) OVER w IS NULL
                            OR lag(v, 1) OVER w <> v
                          THEN 1 ELSE 0 END AS brk
                   FROM seg
                   WINDOW w AS (PARTITION BY flag, d
                     ORDER BY l_orderkey, l_linenumber, v))
            SELECT flag, count(*) AS n_rows,
                   CAST(sum(brk) AS BIGINT) AS n_runs,
                   CAST(count(*) AS DOUBLE) / CAST(sum(brk) AS DOUBLE)
                     AS mean_run_len,
                   CAST(sum(brk) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                     AS rle_ratio
            FROM b GROUP BY flag ORDER BY flag"""))

  /** Zone-map data skipping census — the READ-side proof of the layout
    * doctrine the file's header states (min/max stats prune a scan only
    * when the layout clusters the filtered column): 64 synthetic
    * "files" tile the ship-date range (the same deterministic monotone
    * bucket Prefix uses — every file is a contiguous date band, i.e. a
    * date-clustered write), each file carries a two-column zone map
    * (min/max ship-day AND min/max orderkey). One ~5%-selectivity range
    * predicate per column then shows both futures at once: the
    * CLUSTERED column's predicate overlaps ~4 of 64 zones while the
    * UNCLUSTERED column's stats span everything and prune nothing —
    * the Delta/Iceberg file-skipping model reduced to an oracle-checked
    * census (files scanned, rows scanned, rows matched, skip ratio).
    * Scale: one pass + a 64-row zone table + bounded census arithmetic;
    * predicate bounds derive from the broadcast global stats, so the
    * query is scale-factor-independent. */
  val qLayoutZonemap = Q(
    "q_layout_zonemap",
    (s, dir) => {
      val rows = Tables.lineitem(s, dir).select(
        datediff(col("l_shipdate"), lit("1970-01-01").cast("date"))
          .cast(LongType).as("d"),
        col("l_orderkey").as("ok"))
      val st = rows.agg(min("d").as("mnd"), max("d").as("mxd"),
        min("ok").as("mnk"), max("ok").as("mxk"))
      val withB = rows.crossJoin(broadcast(st))
        .withColumn("dhi", expr("mnd + (mxd - mnd) div 20"))
        .withColumn("khi", expr("mnk + (mxk - mnk) div 20"))
        .withColumn("f", expr(
          "CASE WHEN mxd = mnd THEN 0 ELSE" +
            " least(CAST(floor((CAST(d AS DOUBLE) - CAST(mnd AS DOUBLE))" +
            " / (CAST(mxd AS DOUBLE) - CAST(mnd AS DOUBLE))" +
            " * CAST(64 AS DOUBLE)) AS BIGINT), CAST(63 AS BIGINT)) END"))
      val zones = withB.groupBy("f").agg(
        count(lit(1)).as("cnt"),
        min("d").as("zmnd"), max("d").as("zmxd"),
        min("ok").as("zmnk"), max("ok").as("zmxk"),
        max("mnd").as("dlo"), max("dhi").as("dhi"),
        max("mnk").as("klo"), max("khi").as("khi"))
      val census = zones.agg(
        count(lit(1)).as("files"),
        sum(when(col("zmnd") <= col("dhi")
          && col("zmxd") >= col("dlo"), 1L).otherwise(0L))
          .as("files_scan_clustered"),
        sum(when(col("zmnd") <= col("dhi")
          && col("zmxd") >= col("dlo"), col("cnt")).otherwise(0L))
          .as("rows_scan_clustered"),
        sum(when(col("zmnk") <= col("khi")
          && col("zmxk") >= col("klo"), 1L).otherwise(0L))
          .as("files_scan_unclustered"),
        sum(when(col("zmnk") <= col("khi")
          && col("zmxk") >= col("klo"), col("cnt")).otherwise(0L))
          .as("rows_scan_unclustered"),
        sum(col("cnt")).as("rows_total"))
      val matches = withB.agg(
        sum(when(col("d") <= col("dhi"), 1L).otherwise(0L))
          .as("rows_match_clustered"),
        sum(when(col("ok") <= col("khi"), 1L).otherwise(0L))
          .as("rows_match_unclustered"))
      census.crossJoin(broadcast(matches))
        .select(col("files"), col("files_scan_clustered"),
          col("rows_scan_clustered"), col("rows_match_clustered"),
          col("files_scan_unclustered"), col("rows_scan_unclustered"),
          col("rows_match_unclustered"), col("rows_total"),
          expr("CASE WHEN rows_total = 0 THEN NULL ELSE" +
            " round(CAST(1 AS DOUBLE) - CAST(rows_scan_clustered" +
            " AS DOUBLE) / CAST(rows_total AS DOUBLE), 6) END")
            .as("skip_ratio_clustered"),
          expr("CASE WHEN rows_total = 0 THEN NULL ELSE" +
            " round(CAST(1 AS DOUBLE) - CAST(rows_scan_unclustered" +
            " AS DOUBLE) / CAST(rows_total AS DOUBLE), 6) END")
            .as("skip_ratio_unclustered"))
    },
    Some("""WITH rows0 AS (SELECT
                    CAST(date_diff('day', DATE '1970-01-01', l_shipdate)
                      AS BIGINT) AS d,
                    l_orderkey AS ok
                  FROM lineitem),
             st AS (SELECT min(d) AS mnd, max(d) AS mxd,
                      min(ok) AS mnk, max(ok) AS mxk FROM rows0),
             wb AS (SELECT d, ok, mnd, mnk,
                      mnd + (mxd - mnd) // 20 AS dhi,
                      mnk + (mxk - mnk) // 20 AS khi,
                      CASE WHEN mxd = mnd THEN 0 ELSE
                        least(CAST(floor((CAST(d AS DOUBLE)
                          - CAST(mnd AS DOUBLE))
                          / (CAST(mxd AS DOUBLE) - CAST(mnd AS DOUBLE))
                          * CAST(64 AS DOUBLE)) AS BIGINT),
                          CAST(63 AS BIGINT)) END AS f
                    FROM rows0, st),
             zones AS (SELECT f, CAST(count(*) AS BIGINT) AS cnt,
                         min(d) AS zmnd, max(d) AS zmxd,
                         min(ok) AS zmnk, max(ok) AS zmxk,
                         max(mnd) AS dlo, max(dhi) AS dhi,
                         max(mnk) AS klo, max(khi) AS khi
                       FROM wb GROUP BY f),
             census AS (SELECT CAST(count(*) AS BIGINT) AS files,
                          CAST(sum(CASE WHEN zmnd <= dhi AND zmxd >= dlo
                            THEN 1 ELSE 0 END) AS BIGINT)
                            AS files_scan_clustered,
                          CAST(sum(CASE WHEN zmnd <= dhi AND zmxd >= dlo
                            THEN cnt ELSE 0 END) AS BIGINT)
                            AS rows_scan_clustered,
                          CAST(sum(CASE WHEN zmnk <= khi AND zmxk >= klo
                            THEN 1 ELSE 0 END) AS BIGINT)
                            AS files_scan_unclustered,
                          CAST(sum(CASE WHEN zmnk <= khi AND zmxk >= klo
                            THEN cnt ELSE 0 END) AS BIGINT)
                            AS rows_scan_unclustered,
                          CAST(sum(cnt) AS BIGINT) AS rows_total
                        FROM zones),
             m AS (SELECT
                     CAST(sum(CASE WHEN d <= dhi THEN 1 ELSE 0 END)
                       AS BIGINT) AS rows_match_clustered,
                     CAST(sum(CASE WHEN ok <= khi THEN 1 ELSE 0 END)
                       AS BIGINT) AS rows_match_unclustered
                   FROM wb)
            SELECT files, files_scan_clustered, rows_scan_clustered,
                   rows_match_clustered, files_scan_unclustered,
                   rows_scan_unclustered, rows_match_unclustered,
                   rows_total,
                   CASE WHEN rows_total = 0 THEN NULL ELSE
                     round(CAST(1 AS DOUBLE)
                       - CAST(rows_scan_clustered AS DOUBLE)
                       / CAST(rows_total AS DOUBLE), 6) END
                     AS skip_ratio_clustered,
                   CASE WHEN rows_total = 0 THEN NULL ELSE
                     round(CAST(1 AS DOUBLE)
                       - CAST(rows_scan_unclustered AS DOUBLE)
                       / CAST(rows_total AS DOUBLE), 6) END
                     AS skip_ratio_unclustered
            FROM census, m"""))

  val all: Seq[Q] = Seq(qLayoutZorder, qLayoutCompact, qLayoutRleStats,
    qLayoutZonemap)
}
