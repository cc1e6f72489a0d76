package graft

/** Merge policy for the bench telemetry snapshots (BENCH_PRIOR.tsv /
  * BENCH_DETAIL.tsv) — extracted from Bench's main so the protocol
  * introduced for r18 verdict #1/#4 (and hardened per r19 verdict #2 +
  * ADVICE r19) is unit-testable on its own:
  *
  *  - `pad9`: every retained row is normalized to 9 FULLY TYPED columns
  *    (axis, query, wall_s, build_s, shuf_read_mb, shuf_write_mb,
  *    spill_mb, tasks, flag). Pre-telemetry rows carried empty metric
  *    fields that broke header-indexed float parsers; 0-sentinels are
  *    the documented trade — those axes' corpora are gone, so "not
  *    measured" and "measured zero" are equally unusable as priors, and
  *    a file where every row parses wins. The 9th column (r20) is the
  *    substitution/suspect FLAG: "-" = a plain measurement,
  *    "kept_prior" = a BENCH_PRIOR row carried over from the prior
  *    sweep under twin protection, "load_suspect" = a BENCH_DETAIL row
  *    that IS this run's true measurement but whose wall diverged from
  *    a byte-twin prior (ADVICE r19: the detail artifact must keep real
  *    walls AND mark which rows the gate discounted).
  *
  *  - `protectPrior` (the GATE input, BENCH_PRIOR only): a new row
  *    whose shuffle-byte/spill/task telemetry is bit-close to its prior
  *    twin but whose wall is slower is a load artifact, not a plan
  *    change. The prior (quiet) row is kept verbatim — flagged
  *    kept_prior — when EITHER the sweep bracket was loaded (calib
  *    decayed >1.3×, or started >1.3× above the prior calibration) OR,
  *    bracket-independent (r19 verdict #2: the r19 driver sweep proved
  *    a FLAT bracket can still carry 3.4×-inflated CPU-dense walls —
  *    winnowing 51.8 vs 15.4 s on bit-identical bytes/tasks), the wall
  *    is >1.5× the byte-twin prior. A genuine same-bytes regression
  *    (e.g. codegen fell back to interpreted) still lands: it
  *    reproduces <1.5×-inflated on a quiet box within a round or two,
  *    and any byte/task delta disables protection immediately.
  *
  *  - `flagDetail` (BENCH_DETAIL only): this run's TRUE measurements
  *    are always written — twin protection never substitutes here
  *    (ADVICE r19: substituting hid exactly the in-run decay the
  *    __calib_end__ probe was added to expose) — but every row that
  *    protectPrior would have discounted carries flag load_suspect so
  *    the divergence is attributable on read.
  *
  *  - `snapshot` applies one of those two policies to a whole file, and
  *    `perQuery` merges the BENCH_PERQUERY.json wall map.
  */
object BenchMerge {

  /** Pad/normalize a TSV row to 9 typed columns (0-sentinels, "-" flag). */
  def pad9(l: String): String = {
    val c = (l.split('\t') ++ Array.fill(9)("")).take(9)
    (0 until 9).map { i =>
      if (c(i).nonEmpty) c(i)
      else if (i == 8) "-"
      else if (i == 7) "0"
      else "0.000"
    }.mkString("\t")
  }

  /** Byte metrics match within max(0.05 MB, 2%) — "bit-close": task
    * counts must be exactly equal, shuffle read/write/spill within the
    * tolerance that absorbs listener-drain jitter but not a plan change.
    */
  private def near(a: String, b: String): Boolean = {
    val x = a.toDouble
    val y = b.toDouble
    math.abs(x - y) <= math.max(0.05, 0.02 * math.max(x, y))
  }

  /** The prior byte-twin of `mineCols`, when one exists AND the twin's
    * wall reads as a quieter sample of the same plan: tasks exactly
    * equal, bytes bit-close, prior wall > 0 and faster. Returns the
    * prior's padded columns.
    */
  private def quieterTwin(old: Map[(String, String), Array[String]],
                          c: Array[String]): Option[Array[String]] =
    old.get((c(0), c(1))).filter { o =>
      try
        o(2).toDouble > 0 && o(2).toDouble < c(2).toDouble &&
          o(7) == c(7) && near(o(4), c(4)) && near(o(5), c(5)) &&
          near(o(6), c(6))
      catch { case _: NumberFormatException => false }
    }

  private def priorIndex(oldLines: Seq[String])
      : Map[(String, String), Array[String]] =
    oldLines.map(pad9).flatMap { l =>
      val c = l.split('\t')
      if (c.length == 9) Some((c(0), c(1)) -> c) else None
    }.toMap

  /** True when the (prior, mine) pair is one twin protection discounts:
    * always on a loaded bracket; on a flat bracket only past the 1.5×
    * per-row inflation bound (r19 verdict #2). Calib rows are never
    * protected — they ARE the load record.
    */
  private def discounted(o: Array[String], c: Array[String],
                         loaded: Boolean): Boolean =
    !c(1).startsWith("__calib") &&
      (loaded || c(2).toDouble > 1.5 * o(2).toDouble)

  /** BENCH_PRIOR policy: replace each of this run's rows with its
    * (axis, query) quieter byte-twin when the pair is discounted; the
    * substituted row carries flag "kept_prior" so the file records the
    * substitution (ADVICE r19).
    */
  def protectPrior(oldLines: Seq[String], mine: Seq[String],
                   loaded: Boolean): Seq[String] = {
    val old = priorIndex(oldLines)
    mine.map(pad9).map { l =>
      val c = l.split('\t')
      quieterTwin(old, c) match {
        case Some(o) if discounted(o, c, loaded) =>
          (o.take(8) :+ "kept_prior").mkString("\t")
        case _ => l
      }
    }
  }

  /** BENCH_DETAIL policy: every row stays this run's TRUE measurement;
    * rows protectPrior would discount carry flag "load_suspect".
    */
  def flagDetail(oldLines: Seq[String], mine: Seq[String],
                 loaded: Boolean): Seq[String] = {
    val old = priorIndex(oldLines)
    mine.map(pad9).map { l =>
      val c = l.split('\t')
      quieterTwin(old, c) match {
        case Some(o) if discounted(o, c, loaded) =>
          (c.take(8) :+ "load_suspect").mkString("\t")
        case _ => l
      }
    }
  }

  /** Next rows (sorted, no header) of a snapshot TSV given its old lines
    * as read — the header and rows under 3 columns are dropped — and this
    * run's rows. Old rows whose (axis, query) this run wrote are replaced,
    * so a partial (`only`) run refreshes only its own rows; the others are
    * kept, padded. This run's rows go through `policy` (protectPrior or
    * flagDetail, with the sweep's `loaded` flag applied) against the old
    * rows.
    */
  def snapshot(oldLines: Seq[String], mine: Seq[String],
               policy: (Seq[String], Seq[String]) => Seq[String])
      : Seq[String] = {
    def key(l: String) = l.split('\t').take(2).toSeq
    val old = oldLines.filter { l =>
      val c = l.split('\t')
      c.length >= 3 && c(0) != "sf_dir"
    }
    val written = mine.map(key).toSet
    (old.filterNot(l => written(key(l))).map(pad9) ++ policy(old, mine))
      .sorted
  }

  type Walls = Map[String, Map[String, Double]]

  /** Next BENCH_PERQUERY.json map (axis → query → wall seconds).
    * `measured` holds, per axis this run measured, every query it
    * attempted, with -1 for a failure; a failed query keeps its old wall.
    * A full run owns its axes, so an old key it did not attempt (a renamed
    * or removed query) is dropped. A partial (`only`) run updates only its
    * own keys. Axes this run did not measure are kept as they are.
    */
  def perQuery(old: Walls, measured: Walls, full: Boolean): Walls =
    measured.foldLeft(old) { case (acc, (axis, walls)) =>
      val prev = acc.getOrElse(axis, Map.empty[String, Double])
      val kept = if (full) prev.filter { case (q, _) => walls.contains(q) }
                 else prev
      acc.updated(axis, kept ++ walls.filter { case (_, v) => v >= 0 })
    }

  def parsePerQuery(json: String): Walls = {
    import scala.jdk.CollectionConverters._
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      .properties().asScala.map { a =>
        a.getKey -> a.getValue.properties().asScala
          .map(q => q.getKey -> q.getValue.asDouble()).toMap
      }.toMap
  }

  /** Axes and queries in sorted order, walls to 3 decimals. */
  def renderPerQuery(m: Walls): String =
    m.toSeq.sortBy(_._1).map { case (a, qs) =>
      qs.toSeq.sortBy(_._1).map { case (q, v) =>
        "    \"" + q + "\": " + "%.3f".formatLocal(java.util.Locale.ROOT, v)
      }.mkString("  \"" + a + "\": {\n", ",\n", "\n  }")
    }.mkString("{\n", ",\n", "\n}\n")
}
