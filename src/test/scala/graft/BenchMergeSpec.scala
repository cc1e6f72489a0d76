package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit pins for the bench-telemetry snapshot policy (r18 verdict
  * #1/#4, hardened r20 per r19 verdict #2 + ADVICE r19): row
  * normalization to 9 typed columns (the 9th is the substitution/
  * suspect flag), the BENCH_PRIOR byte-twin wall protection — loaded-
  * bracket OR bracket-independent >1.5× per-row — and the BENCH_DETAIL
  * policy that keeps true walls and only flags. Pure functions — no
  * Spark session needed.
  */
class BenchMergeSpec extends AnyFunSuite {

  private def row(axis: String, q: String, wall: String,
                  build: String = "0.000", rd: String = "1.000",
                  wr: String = "1.000", sp: String = "0.000",
                  tk: String = "10"): String =
    Seq(axis, q, wall, build, rd, wr, sp, tk).mkString("\t")

  private def flagged(r: String, f: String): String =
    r + "\t" + f

  test("pad9 fills short and empty-field rows with typed sentinels") {
    assert(BenchMerge.pad9("/tmp/x\t__calib__\t0.493") ==
      "/tmp/x\t__calib__\t0.493\t0.000\t0.000\t0.000\t0.000\t0\t-")
    // r17-era width-8 rows with EMPTY metric fields (the rows that
    // broke header-indexed float parsers) normalize in place
    assert(BenchMerge.pad9("/tmp/x\t__calib__\t0.493\t0.355\t\t\t\t") ==
      "/tmp/x\t__calib__\t0.493\t0.355\t0.000\t0.000\t0.000\t0\t-")
    // r18/r19-era fully-typed 8-col rows gain the default flag only
    val full8 = row("/a", "q1", "1.234")
    assert(BenchMerge.pad9(full8) == full8 + "\t-")
    // 9-col rows (r20+) pass through byte-identically, flag preserved
    val full9 = flagged(row("/a", "q1", "1.234"), "kept_prior")
    assert(BenchMerge.pad9(full9) == full9)
  }

  test("every pad9 output parses as 9 typed columns") {
    val ragged = Seq("/a\tq\t1.0", "/a\tq\t1.0\t\t\t\t\t",
      "/a\tq\t1.0\t2.0\t3.0\t4.0\t5.0\t6",
      "/a\tq\t1.0\t2.0\t3.0\t4.0\t5.0\t6\tload_suspect")
    ragged.map(BenchMerge.pad9).foreach { l =>
      val c = l.split('\t')
      assert(c.length == 9)
      c.slice(2, 7).foreach(v => assert(v.toDouble >= 0))
      assert(c(7).toInt >= 0)
      assert(c(8).nonEmpty)
    }
  }

  test("quiet sweep: fresh measurements win below the 1.5x per-row bound") {
    val old = Seq(row("/a", "q1", "1.000"))
    val mine = Seq(row("/a", "q1", "1.400"))
    assert(BenchMerge.protectPrior(old, mine, loaded = false)
      == mine.map(BenchMerge.pad9))
  }

  test("FLAT bracket, byte-twin wall >1.5x prior: kept-prior anyway " +
      "(r19 verdict #2 — the winnowing 51.8-vs-15.4 class)") {
    val old = Seq(row("/a", "q1", "15.400", rd = "50.160", wr = "34.875",
      tk = "70"))
    val mine = Seq(row("/a", "q1", "51.800", rd = "50.160", wr = "34.875",
      tk = "70"))
    val out = BenchMerge.protectPrior(old, mine, loaded = false)
    assert(out == Seq(flagged(old.head, "kept_prior")))
  }

  test("FLAT bracket, byte-twin wall exactly at the 1.5x bound: fresh " +
      "row stands (bound is strict)") {
    val old = Seq(row("/a", "q1", "2.000"))
    val mine = Seq(row("/a", "q1", "3.000"))
    assert(BenchMerge.protectPrior(old, mine, loaded = false)
      == mine.map(BenchMerge.pad9))
  }

  test("loaded sweep: byte-twin prior with a faster wall is kept, " +
      "flagged kept_prior, build col intact") {
    val old = Seq(row("/a", "q1", "1.000", build = "0.500"))
    val mine = Seq(row("/a", "q1", "1.300"))
    val out = BenchMerge.protectPrior(old, mine, loaded = true)
    assert(out == Seq(flagged(old.head, "kept_prior")),
      "the quiet twin (including its build col) wins on a loaded bracket")
  }

  test("a byte DELTA disables protection on BOTH policies — the slow " +
      "wall is a plan change, not load") {
    val old = Seq(row("/a", "q1", "1.000", rd = "1.000"))
    // +50% shuffle read: not a twin
    val mineBytes = Seq(row("/a", "q1", "3.000", rd = "1.500"))
    assert(BenchMerge.protectPrior(old, mineBytes, loaded = true)
      == mineBytes.map(BenchMerge.pad9))
    assert(BenchMerge.flagDetail(old, mineBytes, loaded = true)
      == mineBytes.map(BenchMerge.pad9))
    // different task count: not a twin
    val mineTasks = Seq(row("/a", "q1", "3.000", tk = "11"))
    assert(BenchMerge.protectPrior(old, mineTasks, loaded = true)
      == mineTasks.map(BenchMerge.pad9))
  }

  test("a FASTER fresh wall replaces the prior on any bracket " +
      "(min-plan-cost semantics)") {
    val old = Seq(row("/a", "q1", "2.000"))
    val mine = Seq(row("/a", "q1", "1.200"))
    assert(BenchMerge.protectPrior(old, mine, loaded = true)
      == mine.map(BenchMerge.pad9))
  }

  test("byte tolerance absorbs listener jitter but not real shifts") {
    // 100.000 vs 100.008 MB (the r18 adamic_adar case): twin
    val old = Seq(row("/a", "q1", "1.795", rd = "100.000", wr = "100.000",
      tk = "129"))
    val mine = Seq(row("/a", "q1", "3.805", rd = "100.008", wr = "100.008",
      tk = "129"))
    assert(BenchMerge.protectPrior(old, mine, loaded = true)
      == Seq(flagged(old.head, "kept_prior")))
  }

  test("calib rows and unmatched queries are never protected") {
    val old = Seq(row("/a", "__calib__", "0.500"),
      row("/a", "__calib_cpu__", "0.300"),
      row("/a", "q_other", "0.100"))
    val mine = Seq(row("/a", "__calib__", "2.000"),
      row("/a", "__calib_cpu__", "2.000"),
      row("/a", "q_new", "5.000"))
    assert(BenchMerge.protectPrior(old, mine, loaded = true)
      == mine.map(BenchMerge.pad9))
  }

  test("legacy short prior rows participate after padding (zero-wall " +
      "priors never win)") {
    // a padded legacy row has wall but 0-sentinel bytes; a new row with
    // real bytes is not its twin — and a 0-wall prior must never replace
    // anything (the `> 0` guard)
    val old = Seq("/a\tq1\t0.000")
    val mine = Seq(row("/a", "q1", "3.000"))
    assert(BenchMerge.protectPrior(old, mine, loaded = true)
      == mine.map(BenchMerge.pad9))
  }

  test("flagDetail keeps this run's TRUE wall and only flags it " +
      "(ADVICE r19: detail must show in-run decay)") {
    val old = Seq(row("/a", "q1", "15.400", rd = "50.160", wr = "34.875",
      tk = "70"))
    val mine = Seq(row("/a", "q1", "51.800", rd = "50.160", wr = "34.875",
      tk = "70"))
    // flat bracket, >1.5x byte-twin: flagged, wall unchanged
    assert(BenchMerge.flagDetail(old, mine, loaded = false)
      == Seq(flagged(mine.head, "load_suspect")))
    // loaded bracket, mildly slower byte-twin: flagged, wall unchanged
    val mild = Seq(row("/a", "q1", "18.000", rd = "50.160", wr = "34.875",
      tk = "70"))
    assert(BenchMerge.flagDetail(old, mild, loaded = true)
      == Seq(flagged(mild.head, "load_suspect")))
    // quiet bracket, mildly slower: plain row, no flag
    assert(BenchMerge.flagDetail(old, mild, loaded = false)
      == mild.map(BenchMerge.pad9))
  }

  test("protectPrior and flagDetail discount the SAME pairs — every " +
      "kept_prior row has a load_suspect detail counterpart") {
    val old = Seq(row("/a", "q1", "1.000"), row("/a", "q2", "1.000"),
      row("/a", "q3", "1.000", rd = "9.000"))
    val mine = Seq(row("/a", "q1", "1.300"), // loaded-only discount
      row("/a", "q2", "2.000"), // 1.5x discount on any bracket
      row("/a", "q3", "2.000")) // byte delta: never discounted
    for (loaded <- Seq(true, false)) {
      val p = BenchMerge.protectPrior(old, mine, loaded)
      val d = BenchMerge.flagDetail(old, mine, loaded)
      val kept = p.filter(_.endsWith("kept_prior"))
        .map(_.split('\t')(1)).toSet
      val susp = d.filter(_.endsWith("load_suspect"))
        .map(_.split('\t')(1)).toSet
      assert(kept == susp)
      assert(!kept.contains("q3"))
    }
  }

  test("snapshot replaces the rows this run wrote, keeps the rest padded " +
      "and drops a header") {
    val old = Seq("sf_dir\tquery\twall_s",
      row("/a", "q1", "1.000"), row("/a", "q2", "2.000"),
      "/b\tq1\t3.000", "/a\tshort")
    val mine = Seq(row("/a", "q1", "0.900"))
    val out = BenchMerge.snapshot(old, mine,
      BenchMerge.flagDetail(_, _, loaded = false))
    assert(out == Seq(BenchMerge.pad9("/b\tq1\t3.000"),
      BenchMerge.pad9(row("/a", "q1", "0.900")),
      BenchMerge.pad9(row("/a", "q2", "2.000"))).sorted)
  }

  test("snapshot applies the policy against the old rows") {
    val old = Seq(row("/a", "q1", "1.000"), row("/a", "q2", "1.000"))
    val mine = Seq(row("/a", "q1", "2.000"))
    val prior = BenchMerge.snapshot(old, mine,
      BenchMerge.protectPrior(_, _, loaded = false))
    assert(prior == Seq(flagged(row("/a", "q1", "1.000"), "kept_prior"),
      BenchMerge.pad9(row("/a", "q2", "1.000"))))
    val detail = BenchMerge.snapshot(old, mine,
      BenchMerge.flagDetail(_, _, loaded = false))
    assert(detail == Seq(flagged(row("/a", "q1", "2.000"), "load_suspect"),
      BenchMerge.pad9(row("/a", "q2", "1.000"))))
  }

  test("perQuery: a full run drops renamed and removed queries, keeps a " +
      "failed query's old wall and other axes") {
    val old = Map(
      "/a" -> Map("q_old_name" -> 1.0, "q_removed" -> 2.0, "q_keep" -> 3.0,
        "q_failed" -> 4.0),
      "/b" -> Map("q_old_name" -> 5.0))
    val measured = Map(
      "/a" -> Map("q_new_name" -> 1.5, "q_keep" -> 2.5, "q_failed" -> -1.0))
    val out = BenchMerge.perQuery(old, measured, full = true)
    assert(out == Map(
      "/a" -> Map("q_new_name" -> 1.5, "q_keep" -> 2.5, "q_failed" -> 4.0),
      "/b" -> Map("q_old_name" -> 5.0)))
  }

  test("perQuery: a partial run only updates its own keys") {
    val old = Map("/a" -> Map("q1" -> 1.0, "q2" -> 2.0))
    val out = BenchMerge.perQuery(old,
      Map("/a" -> Map("q2" -> 0.5, "q3" -> 3.0, "q4" -> -1.0)),
      full = false)
    assert(out == Map("/a" -> Map("q1" -> 1.0, "q2" -> 0.5, "q3" -> 3.0)))
  }

  test("perQuery JSON renders sorted and parses back") {
    val m = Map("/b" -> Map("q2" -> 2.0, "q1" -> 0.1234),
      "/a" -> Map("q" -> 3.0))
    val json = BenchMerge.renderPerQuery(m)
    assert(json == "{\n  \"/a\": {\n    \"q\": 3.000\n  },\n" +
      "  \"/b\": {\n    \"q1\": 0.123,\n    \"q2\": 2.000\n  }\n}\n")
    assert(BenchMerge.parsePerQuery(json) ==
      Map("/a" -> Map("q" -> 3.0), "/b" -> Map("q1" -> 0.123, "q2" -> 2.0)))
  }
}
