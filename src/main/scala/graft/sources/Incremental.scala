package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Make-style incremental materialization — SURVEY.md §3.1/§4.1: the
  * reference's build tool skips a target when it is newer than every
  * prerequisite. Same contract here for materialized parquet outputs: a
  * target is fresh iff its _SUCCESS marker (written last, so its mtime
  * upper-bounds the data files') is at least as new as the newest file
  * under every input path; a fresh target is read back without running the
  * build.
  *
  * Scale posture: freshness is pure namenode metadata (a recursive listing
  * of inputs and one stat of _SUCCESS) — no data is read to decide. In a
  * 100 TB pipeline DAG this is what turns "rerun everything nightly" into
  * "recompute only the partitions whose inputs moved"; combine with
  * partition-level output paths for per-partition skipping.
  */
object Incremental {

  /** mtime of the newest file under `path` (recursive); 0 if absent. */
  def newestMtime(fs: FileSystem, path: Path): Long =
    if (!fs.exists(path)) 0L
    else {
      val it = fs.listFiles(path, true)
      var newest = fs.getFileStatus(path).getModificationTime
      while (it.hasNext) newest = math.max(newest, it.next().getModificationTime)
      newest
    }

  /** Is the materialized output at `outPath` newer than all inputs? */
  def isFresh(spark: SparkSession, inputs: Seq[String],
              outPath: String): Boolean = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val success = new Path(outPath, "_SUCCESS")
    val fs = success.getFileSystem(hconf)
    fs.exists(success) && {
      val outMtime = fs.getFileStatus(success).getModificationTime
      inputs.forall { in =>
        val p = new Path(in)
        val inFs = p.getFileSystem(hconf)
        // A missing prerequisite must never count as "older than the
        // output" (newestMtime returns 0 for it) — that would silently
        // serve stale materialized data for a deleted/mistyped input.
        // Make errors on a missing prerequisite; we force a rebuild, which
        // surfaces the missing path as the build's own read error.
        inFs.exists(p) && newestMtime(inFs, p) <= outMtime
      }
    }
  }

  /** Run `build` and write its result to `outPath` ONLY when some input is
    * newer than the existing output (or the output does not exist); always
    * return the materialized data read back from `outPath`, plus whether a
    * rebuild happened. The build is by-name — a skipped target never
    * constructs its plan. A target this call built is read back with the
    * schema it was written with, so reopening it runs no footer-inference
    * job; a skipped target's schema is inferred from its files.
    */
  def materialize(spark: SparkSession, inputs: Seq[String], outPath: String)
                 (build: => DataFrame): (DataFrame, Boolean) = {
    val builtSchema = withBuildLock(outPath) {
      // double-checked inside the lock: the loser of a build race must
      // see the winner's fresh output, not rebuild (or worse, overwrite
      // files the winner is still writing)
      if (isFresh(spark, inputs, outPath)) None
      else BuildTimer.timed {
        val built = build
        built.write.mode("overwrite").parquet(outPath)
        Some(built.schema)
      }
    }
    val reader = builtSchema.fold(spark.read)(s => spark.read.schema(s))
    (reader.parquet(outPath), builtSchema.isDefined)
  }

  /** Serialize store BUILDS per artifact key within this JVM. Two
    * concurrent queries sharing a dir-keyed store (the pagerank/sssp
    * adjacency, the dedup pair table) otherwise both see "stale" and race
    * `mode(overwrite)` writes — one deletes the directory under the other
    * (caught by ConcurrencySpec, exactly the multi-tenant hazard of a
    * shared warehouse). Same-JVM is the local[] scope; on a real cluster
    * the equivalent is the workflow manager's task-level mutual exclusion
    * or an atomic-rename commit protocol — this lock is the single-driver
    * analog of that contract.
    */
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  def withBuildLock[T](key: String)(body: => T): T = {
    val lock = buildLocks.computeIfAbsent(key, _ => new Object)
    lock.synchronized(body)
  }
}
