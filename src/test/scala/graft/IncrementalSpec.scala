package graft

import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Incremental

/** Make-semantics contract: build when stale, skip when fresh, rebuild
  * when an input's mtime moves past the output's.
  */
class IncrementalSpec extends AnyFunSuite with SparkFixture {

  private def copyTree(src: JPath, dst: JPath): Unit = {
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  test("materialize: builds once, skips while fresh, rebuilds on new input") {
    val in = Paths.get(tmpDir("inc_in"), "region")
    copyTree(Paths.get(sfDir, "region.parquet"), in)
    val out = tmpDir("inc_out") + "/agg"
    var builds = 0
    def build() = {
      builds += 1
      spark.read.parquet(in.toString)
        .groupBy("r_regionkey").agg(count(lit(1)).as("n"))
    }

    val (df1, b1) = Incremental.materialize(
      spark, Seq(in.toString), out)(build())
    assert(b1 && builds == 1 && df1.count() == 5)

    // second call: inputs unchanged → skipped, plan never constructed
    val (df2, b2) = Incremental.materialize(
      spark, Seq(in.toString), out)(build())
    assert(!b2 && builds == 1 && df2.count() == 5)

    // touch an input file past the output's mtime → stale → rebuild
    val anyFile = Files.walk(in).filter(Files.isRegularFile(_))
      .findFirst().get()
    val success = Paths.get(out, "_SUCCESS")
    Files.setLastModifiedTime(anyFile,
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(success).toMillis + 2000))
    val (df3, b3) = Incremental.materialize(
      spark, Seq(in.toString), out)(build())
    assert(b3 && builds == 2 && df3.count() == 5)
  }

  /** `f`'s result and the number of Spark jobs it ran. */
  private def withJobCount[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"inc_jobs_${System.nanoTime}"
    sc.setJobGroup(group, group)
    try {
      val r = f
      org.apache.spark.graftbridge.ListenerDrain.drain(sc)
      (r, sc.statusTracker.getJobIdsForGroup(group).length)
    } finally sc.clearJobGroup()
  }

  test("a rebuilt target reads back with its written schema and no " +
      "inference job; a skipped one infers the same schema with one job") {
    val in = Paths.get(tmpDir("inc_rb_in"), "region")
    copyTree(Paths.get(sfDir, "region.parquet"), in)
    val out = tmpDir("inc_rb_out") + "/agg"
    def build() = spark.read.parquet(in.toString)
      .groupBy("r_regionkey")
      .agg(count(lit(1)).as("n"), collect_list("r_name").as("names"))
    assert(!build().schema("n").nullable)

    val ((rebuilt, b1), rebuildJobs) = withJobCount(
      Incremental.materialize(spark, Seq(in.toString), out)(build()))
    val (_, writeJobs) = withJobCount(
      build().write.parquet(tmpDir("inc_rb_plain") + "/agg"))
    val ((skipped, b2), skipJobs) = withJobCount(
      Incremental.materialize(spark, Seq(in.toString), out)(build()))
    assert(b1 && !b2)
    // file sources read every column as nullable, given schema or not
    assert(rebuilt.schema == skipped.schema)
    assert(rebuilt.schema.forall(_.nullable))
    assert(rebuilt.schema.fieldNames.toSeq == Seq("r_regionkey", "n", "names"))
    val rows = rebuilt.orderBy("r_regionkey").collect().toSeq
    assert(rows.size == 5)
    assert(rows == skipped.orderBy("r_regionkey").collect().toSeq)
    assert(rebuildJobs == writeJobs, "the rebuilt read-back ran a job")
    assert(skipJobs == 1, "the skipped read-back infers its schema in a job")
  }

  test("isFresh is false when the output was never written") {
    assert(!Incremental.isFresh(spark, Seq(sfDir), tmpDir("inc_x") + "/none"))
  }

  test("isFresh: a missing input forces a rebuild, never serves stale output") {
    val in = Paths.get(tmpDir("inc_miss_in"), "region")
    copyTree(Paths.get(sfDir, "region.parquet"), in)
    val out = tmpDir("inc_miss_out") + "/agg"
    Incremental.materialize(spark, Seq(in.toString), out)(
      spark.read.parquet(in.toString).select("r_regionkey"))
    assert(Incremental.isFresh(spark, Seq(in.toString), out))
    // a deleted/mistyped prerequisite must not look "older than the
    // output" (mtime 0) — make errors on it; we go stale
    assert(!Incremental.isFresh(spark, Seq(in.toString + "_gone"), out))
  }

  test("dedup consumers share one materialized pair table per session") {
    // mirrors Llm.pairTable's collision-free key (md5 of the input dir)
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val success = graft.sources.SourcesSinks.sessionTempDir(spark)
      .resolve(s"jaccard_pairs_$key").resolve("_SUCCESS")
    SparkEntry.queries("q_dedup_clusters")(spark, sfDir).count()
    assert(Files.exists(success))
    val m1 = Files.getLastModifiedTime(success)
    // the second consumer must REUSE the materialized pairs, not rebuild
    SparkEntry.queries("q_corpus_curate")(spark, sfDir).count()
    assert(Files.getLastModifiedTime(success) == m1)
  }

  test("PageRank adjacency+degree built once per (session, dir) and reused") {
    // the graph tables are BUCKETED tables (iteration-join key), so they
    // live in the warehouse dir, not the session temp root
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    // table names are dir-keyed (md5), mirroring Relational.graphKey
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val und = Paths.get(wh, s"graft_pr_und_$key")
    val deg = Paths.get(wh, s"graft_pr_deg_$key")
    SparkEntry.queries("q_graph_pagerank")(spark, sfDir).count()
    assert(Files.exists(und.resolve("_SUCCESS")) &&
      Files.exists(deg.resolve("_SUCCESS")))
    val m1 = Files.getLastModifiedTime(und.resolve("_SUCCESS"))
    val m2 = Files.getLastModifiedTime(deg.resolve("_SUCCESS"))
    // second invocation pays iteration cost only — no graph rebuild
    SparkEntry.queries("q_graph_pagerank")(spark, sfDir).count()
    assert(Files.getLastModifiedTime(und.resolve("_SUCCESS")) == m1 &&
      Files.getLastModifiedTime(deg.resolve("_SUCCESS")) == m2)
  }

  test("IVF index is built once per (session, dir) and reused — no refit") {
    val cells = Paths.get(graft.sources.SourcesSinks
      .dirKeyedTempPath(spark, sfDir, "ivf_cells"))
    val cents = Paths.get(graft.sources.SourcesSinks
      .dirKeyedTempPath(spark, sfDir, "ivf_centroids"))
    SparkEntry.queries("q_sim_cosine_ivf")(spark, sfDir).count()
    assert(Files.exists(cells.resolve("_SUCCESS")) &&
      Files.exists(cents.resolve("_SUCCESS")))
    // physical IVF shape: the assignment store is partitioned by cell, so
    // an nprobe probe is a partition-pruned read
    val listing = Files.list(cells)
    val cellDirs =
      try listing.filter(p =>
        p.getFileName.toString.startsWith("cell=")).count()
      finally listing.close() // Files.list holds an open DirectoryStream
    assert(cellDirs > 1, s"expected cell=* partition dirs, got $cellDirs")
    val m1 = Files.getLastModifiedTime(cells.resolve("_SUCCESS"))
    val m2 = Files.getLastModifiedTime(cents.resolve("_SUCCESS"))
    // second invocation reuses the materialized index (KMeans not refit)
    SparkEntry.queries("q_sim_cosine_ivf")(spark, sfDir).count()
    assert(Files.getLastModifiedTime(cells.resolve("_SUCCESS")) == m1 &&
      Files.getLastModifiedTime(cents.resolve("_SUCCESS")) == m2)
  }
}
