package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Make-style incremental materialization — SURVEY.md §3.1/§4.1: the
  * reference's build tool skips a target when it is newer than every
  * prerequisite. Same contract here for every path-keyed store: a target
  * is fresh iff its _SUCCESS marker (written last, so its mtime
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

  /** Is every output newer than all inputs? Inputs are listed once. */
  def isFresh(spark: SparkSession, inputs: Seq[String],
              outPaths: String*): Boolean = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val markers = outPaths.map { o =>
      val m = new Path(o, "_SUCCESS")
      val fs = m.getFileSystem(hconf)
      if (fs.exists(m)) fs.getFileStatus(m).getModificationTime else -1L
    }
    markers.forall(_ >= 0) && {
      val oldest = markers.min
      inputs.forall { in =>
        val p = new Path(in)
        val inFs = p.getFileSystem(hconf)
        // A missing prerequisite must never count as "older than the
        // output" (newestMtime returns 0 for it) — that would silently
        // serve stale materialized data for a deleted/mistyped input.
        // Make errors on a missing prerequisite; we force a rebuild, which
        // surfaces the missing path as the build's own read error.
        inFs.exists(p) && newestMtime(inFs, p) <= oldest
      }
    }
  }

  /** The one store rule. Under the build lock of the first output, when
    * any output is older than some input (or absent): delete every output
    * recursively, run `write` under [[BuildTimer]], then leave a _SUCCESS
    * marker in each output as the last write — for Spark writers and
    * hand-written files alike. `write` finds no output in place, so a
    * Spark writer needs no save mode and a file writer creates its own
    * directory. Returns `write`'s result when it rebuilt, None when every
    * output was fresh and `write` never ran.
    */
  def store[T](spark: SparkSession, inputs: Seq[String],
               outputs: Seq[String])(write: => T): Option[T] =
    // checked inside the lock: the loser of a build race must see the
    // winner's fresh output, not rebuild (or worse, delete files the
    // winner is still writing)
    withBuildLock(outputs.head) {
      if (isFresh(spark, inputs, outputs: _*)) None
      else BuildTimer.timed {
        val hconf = spark.sparkContext.hadoopConfiguration
        val paths = outputs.map(new Path(_))
        paths.foreach(p => p.getFileSystem(hconf).delete(p, true))
        val result = write
        paths.foreach { p =>
          p.getFileSystem(hconf).create(new Path(p, "_SUCCESS"), true).close()
        }
        Some(result)
      }
    }

  /** [[store]] for one parquet target built from a DataFrame: always
    * return the materialized data read back from `outPath`, plus whether a
    * rebuild happened. The build is by-name — a skipped target never
    * constructs its plan. A target this call built is read back with the
    * schema it was written with, so reopening it runs no footer-inference
    * job; a skipped target's schema is inferred from its files.
    */
  def materialize(spark: SparkSession, inputs: Seq[String], outPath: String)
                 (build: => DataFrame): (DataFrame, Boolean) = {
    val builtSchema = store(spark, inputs, Seq(outPath)) {
      val built = build
      built.write.parquet(outPath)
      built.schema
    }
    val reader = builtSchema.fold(spark.read)(s => spark.read.schema(s))
    (reader.parquet(outPath), builtSchema.isDefined)
  }

  /** Serialize store BUILDS per artifact key within this JVM. Two
    * concurrent queries sharing a dir-keyed store (the pagerank/sssp
    * adjacency, the dedup pair table) otherwise both see "stale" and race
    * their writes — one deletes the directory under the other
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
