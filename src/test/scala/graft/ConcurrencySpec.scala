package graft

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global
import org.scalatest.funsuite.AnyFunSuite

/** Concurrent-session robustness: a shared cluster runs MANY queries at
  * once, and the store-building seams (Incremental / ensureBucketed) must
  * not corrupt each other when two queries race to materialize the SAME
  * dir-keyed artifact (the pagerank/sssp/2hop family shares one adjacency
  * store; clusters/bigstar share the pair store). This spec runs
  * store-sharing and store-independent queries in parallel threads on the
  * shared session and asserts each result is row-identical to its serial
  * run — a lost-update or half-written _SUCCESS would surface as a read
  * error or a wrong count.
  */
class ConcurrencySpec extends AnyFunSuite with SparkFixture {

  private val names = Seq(
    // two queries sharing the SAME bucketed adjacency store
    "q_graph_pagerank", "q_graph_sssp",
    // two sharing the corpus pair store
    "q_dedup_clusters", "q_graph_triangles",
    // three racing the memoized checkpoint-pinned dedupBase build
    // (r18): computeIfAbsent must serialize the build and hand every
    // racer the same pinned frames
    "q_dedup_jaccard_pairs", "q_dedup_containment", "q_dedup_ppjoin",
    // two sharing the partitioned orders store
    "q_scan_partition_pruned", "q_join_dpp",
    // independent store builders
    "q_join_bucketed", "q_layout_zorder", "q_multimodal_decode",
    // pure queries riding alongside
    "q_agg_hash", "q_win_rank_topn")

  test("concurrent queries (shared stores included) match serial results") {
    // fresh input-dir COPY → every dir-keyed store is COLD, so the
    // concurrent phase (run FIRST) races the builds themselves, not
    // just warm reads
    val dir = tmpDir("conc_sf")
    val src = java.nio.file.Paths.get(sfDir)
    java.nio.file.Files.walk(src).forEach { p =>
      val rel = src.relativize(p).toString
      if (rel.nonEmpty) {
        val t = java.nio.file.Paths.get(dir, rel)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    val futures = names.map { n =>
      Future(n -> SparkEntry.queries(n)(spark, dir).collect().toSeq)
    }
    val concurrent = Await.result(Future.sequence(futures), 10.minutes).toMap
    val serial = names.map { n =>
      n -> SparkEntry.queries(n)(spark, dir).collect().toSeq
    }.toMap
    names.foreach { n =>
      assert(concurrent(n) == serial(n),
        s"$n diverged under concurrency (store race?)")
    }
  }

  test("manifest commits serialize under concurrent appenders") {
    // 8 threads each append a distinct 10-row slice concurrently with
    // no external coordination: the link(2) commit arbiter must
    // serialize them into versions 1..8, and the FINAL manifest must
    // contain every slice exactly once (an append loser that failed
    // to rebase would drop the winner's files; a rename-style
    // overwrite arbiter would lose whole commits).
    import graft.sources.ManifestTable
    val root = tmpDir("manifest_race")
    val s = spark
    import s.implicits._
    val fs = (0 until 8).map { i =>
      Future {
        ManifestTable.commit(s, root,
          ((i * 10) until (i * 10 + 10)).toDF("v"), overwrite = false)
      }
    }
    val versions = Await.result(Future.sequence(fs), 120.seconds).sorted
    assert(versions == (1 to 8), s"claimed versions: $versions")
    val last = ManifestTable.readAt(s, root, 8)
      .collect().map(_.getInt(0)).sorted
    assert(last.toSeq == (0 until 80),
      "final manifest must hold every concurrent append exactly once")
    // snapshot isolation: every intermediate version has a multiple of
    // 10 rows and is a SUBSET of the final state
    (1 to 7).foreach { v =>
      val rows = ManifestTable.readAt(s, root, v)
        .collect().map(_.getInt(0)).toSet
      assert(rows.size == v * 10)
      assert(rows.subsetOf(last.toSet))
    }
  }

  test("manifest overwrite preserves old versions (snapshot isolation)") {
    import graft.sources.ManifestTable
    val root = tmpDir("manifest_ow")
    val s = spark
    import s.implicits._
    ManifestTable.commit(s, root, (1 to 5).toDF("v"), overwrite = false)
    ManifestTable.commit(s, root, (6 to 9).toDF("v"), overwrite = false)
    ManifestTable.commit(s, root, Seq(42).toDF("v"), overwrite = true)
    assert(ManifestTable.latestVersion(root) == 3)
    assert(ManifestTable.readAt(s, root, 3)
      .collect().map(_.getInt(0)).toSeq == Seq(42))
    // the overwrite republished the manifest but deleted nothing:
    // a reader pinned at v2 still sees the pre-overwrite world
    assert(ManifestTable.readAt(s, root, 2)
      .collect().map(_.getInt(0)).sorted.toSeq == (1 to 9))
    assert(ManifestTable.readAt(s, root, 1)
      .collect().map(_.getInt(0)).sorted.toSeq == (1 to 5))
  }

  test("compact bin-packs small files into a new version; pinned readers unaffected") {
    import graft.sources.ManifestTable
    val root = tmpDir("manifest_cp")
    val s = spark
    import s.implicits._
    // 6 appends of 1-file commits → 6 small files in v6
    (0 until 6).foreach { i =>
      ManifestTable.commit(s, root,
        ((i * 10) until (i * 10 + 10)).toDF("v").coalesce(1),
        overwrite = false)
    }
    val before = ManifestTable.filesAt(root, 6)
    assert(before.size == 6)
    val v7 = ManifestTable.compact(s, root,
      smallBytes = 1L << 20, targetBytes = 1L << 20)
    assert(v7 == 7)
    val after = ManifestTable.filesAt(root, 7)
    assert(after.size < before.size,
      s"compaction must shrink the file census: ${after.size}")
    // same rows, and the pinned pre-compaction reader is untouched
    assert(ManifestTable.readAt(s, root, 7)
      .collect().map(_.getInt(0)).sorted.toSeq == (0 until 60))
    assert(ManifestTable.readAt(s, root, 6)
      .collect().map(_.getInt(0)).sorted.toSeq == (0 until 60))
  }

  test("expire + vacuum GC only unreferenced, age-eligible files") {
    import graft.sources.ManifestTable
    val root = tmpDir("manifest_gc")
    val s = spark
    import s.implicits._
    ManifestTable.commit(s, root, (1 to 5).toDF("v"), overwrite = false)
    ManifestTable.commit(s, root, (6 to 9).toDF("v"), overwrite = false)
    ManifestTable.commit(s, root, Seq(42).toDF("v"), overwrite = true)
    def census(): Int = {
      var n = 0
      java.nio.file.Files.walk(java.nio.file.Paths.get(root, "data"))
        .forEach { p =>
          if (java.nio.file.Files.isRegularFile(p) &&
            p.toString.endsWith(".parquet")) n += 1
        }
      n
    }
    val full = census()
    // vacuum BEFORE the retention gate: all three versions retained →
    // everything is referenced → nothing deleted, v1/v2 readers fine
    assert(ManifestTable.vacuum(root, minAgeMs = 0).isEmpty)
    assert(census() == full)
    assert(ManifestTable.readAt(s, root, 1)
      .collect().map(_.getInt(0)).sorted.toSeq == (1 to 5))
    // an age gate far in the future protects even orphans
    ManifestTable.expireVersions(root, keepLast = 1)
    assert(ManifestTable.vacuum(root, minAgeMs = 1L << 40).isEmpty)
    assert(census() == full)
    // gate open: v1/v2's now-unreferenced files go, v3's survive
    val deleted = ManifestTable.vacuum(root, minAgeMs = 0)
    assert(deleted.nonEmpty)
    assert(census() < full)
    assert(ManifestTable.readAt(s, root, 3)
      .collect().map(_.getInt(0)).toSeq == Seq(42))
  }

  test("epoch commits are idempotent: a replayed epoch is a no-op") {
    import graft.sources.ManifestTable
    val root = tmpDir("manifest_ep")
    val s = spark
    import s.implicits._
    val v1 = ManifestTable.commitEpoch(s, root, (1 to 5).toDF("v"), 0L)
    val v2 = ManifestTable.commitEpoch(s, root, (6 to 9).toDF("v"), 1L)
    assert((v1, v2) == (1, 2))
    // crash-replay of epoch 1: same batchId arrives again
    val v3 = ManifestTable.commitEpoch(s, root, (6 to 9).toDF("v"), 1L)
    assert(v3 == 2, "replayed epoch must not commit a new version")
    assert(ManifestTable.readAt(s, root, 2)
      .collect().map(_.getInt(0)).sorted.toSeq == (1 to 9),
      "no duplicate rows after replay")
    assert(ManifestTable.committedEpochs(root) == Set(0L, 1L))
    // the ledger survives a compaction commit
    ManifestTable.compact(s, root, 1L << 20, 1L << 20)
    assert(ManifestTable.committedEpochs(root) == Set(0L, 1L))
    // a replay that loses the race INSIDE commitWith leaves its fresh
    // data dir unpublished (the early ledger check catches the serial
    // replay above without writing anything) — materialize that orphan
    // shape directly and pin that vacuum GCs it and ONLY it
    (100 to 102).toDF("v").write
      .parquet(java.nio.file.Paths.get(root, "data", "ce9-orphan").toString)
    val referenced = (1 to ManifestTable.latestVersion(root))
      .flatMap(v => ManifestTable.filesAt(root, v)).toSet
    val deleted = ManifestTable.vacuum(root, minAgeMs = 0)
    assert(deleted.nonEmpty,
      "a raced epoch's unpublished files are orphans to GC")
    assert(deleted.forall(p => !referenced.contains(p)),
      "vacuum must delete ORPHAN-dir files only, never referenced ones")
    assert(deleted.forall(_.contains("ce9-orphan")),
      s"only the orphan dir's files may go: $deleted")
    assert(ManifestTable.readAt(s, root, ManifestTable.latestVersion(root))
      .collect().map(_.getInt(0)).sorted.toSeq == (1 to 9))
  }

  test("the epoch ledger survives an overwrite commit") {
    import graft.sources.ManifestTable
    val root = tmpDir("manifest_ow")
    val s = spark
    import s.implicits._
    ManifestTable.commitEpoch(s, root, (1 to 5).toDF("v"), 0L)
    ManifestTable.commit(s, root, Seq(7).toDF("v"), overwrite = true)
    assert(ManifestTable.committedEpochs(root) == Set(0L),
      "overwrite replaces the file list but must carry the ledger")
    // a crash-replay of epoch 0 AFTER the overwrite stays a no-op
    val latest = ManifestTable.latestVersion(root)
    assert(ManifestTable.commitEpoch(s, root, (1 to 5).toDF("v"), 0L)
      == latest, "replayed epoch must not re-commit after overwrite")
    assert(ManifestTable.readAt(s, root, latest)
      .collect().map(_.getInt(0)).toSeq == Seq(7))
  }

  test("compact's rebase aborts when its inputs left the latest " +
       "manifest (concurrent overwrite / rival compact)") {
    import graft.sources.ManifestTable.compactCompose
    val inputs = Set("/t/data/c1/a.parquet", "/t/data/c2/b.parquet")
    val packed = Seq("/t/data/ck/p.parquet")
    // serial case: inputs still live → rebase keeps the concurrent
    // append and the epoch ledger, swaps inputs for the packed files
    val latest = Seq("#epoch=3", "/t/data/c1/a.parquet",
      "/t/data/c2/b.parquet", "/t/data/c3/app.parquet")
    assert(compactCompose(inputs, packed)(latest)
      == Some(Seq("#epoch=3", "/t/data/c3/app.parquet",
                  "/t/data/ck/p.parquet")))
    // a concurrent OVERWRITE won: inputs gone → blindly appending
    // packed would resurrect deleted rows — must abort
    assert(compactCompose(inputs, packed)(
      Seq("/t/data/c9/new.parquet")).isEmpty)
    // a rival compact won: one input already packed away → appending
    // our packed output would duplicate every compacted row — abort
    assert(compactCompose(inputs, packed)(
      Seq("/t/data/c1/a.parquet", "/t/data/ck2/q.parquet")).isEmpty)
  }

  test("vacuum's age gate protects an in-flight unpublished commit") {
    import graft.sources.ManifestTable
    import java.nio.file.{Files, Paths}
    val root = tmpDir("manifest_if")
    val s = spark
    import s.implicits._
    ManifestTable.commit(s, root, (1 to 5).toDF("v"), overwrite = false)
    // a committer mid-flight: data dir fully written, manifest NOT yet
    // linked — invisible to readers, unreferenced by every manifest
    val inflight = Paths.get(root, "data", "cinflight1")
    (1 to 3).toDF("v").write.parquet(inflight.toString)
    val files = Files.list(inflight)
    val nBefore = try files.count() finally files.close()
    assert(nBefore > 0)
    // real age gate: the just-written files are younger than 1h → the
    // sweep must not touch them (THIS is what makes unpublished
    // commits safe, not luck)
    val deleted = ManifestTable.vacuum(root, minAgeMs = 3600L * 1000)
    assert(deleted.isEmpty)
    assert(Files.isDirectory(inflight))
    val files2 = Files.list(inflight)
    val nAfter = try files2.count() finally files2.close()
    assert(nAfter == nBefore, "age gate must protect in-flight files")
    // the published table is of course also untouched
    assert(ManifestTable.readAt(s, root, 1)
      .collect().map(_.getInt(0)).sorted.toSeq == (1 to 5))
  }

  test("vacuum reclaims abandoned _temporary trees but not active ones") {
    // ADVICE r18: skipping `_temporary` subtrees wholesale meant a
    // crashed writer's debris was NEVER collected. The tree is now
    // age-gated on its NEWEST mtime: all-old → abandoned, reclaimed
    // whole; any recent entry → a live writer, untouched.
    import graft.sources.ManifestTable
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val root = tmpDir("manifest_tmp")
    val s = spark
    import s.implicits._
    ManifestTable.commit(s, root, (1 to 5).toDF("v"), overwrite = false)
    def mkTemp(dirName: String): java.nio.file.Path = {
      val t = Paths.get(root, "data", dirName, "_temporary", "0", "task0")
      Files.createDirectories(t)
      Files.write(t.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
      Paths.get(root, "data", dirName, "_temporary")
    }
    val dead = mkTemp("cdead")
    val live = mkTemp("clive")
    // age the dead tree's every entry past any cutoff; the live tree's
    // leaf file stays fresh (a writer touched it moments ago) even
    // though its parents are old — newest-mtime gating must protect it
    val old = FileTime.fromMillis(System.currentTimeMillis() - 7200L * 1000)
    Files.walk(dead).forEach(p => Files.setLastModifiedTime(p, old))
    Files.walk(live).forEach(p => Files.setLastModifiedTime(p, old))
    Files.setLastModifiedTime(
      Paths.get(live.toString, "0", "task0", "part-0.parquet"),
      FileTime.fromMillis(System.currentTimeMillis()))
    ManifestTable.vacuum(root, minAgeMs = 3600L * 1000)
    assert(!Files.exists(dead),
      "an all-old _temporary tree is abandoned debris and must be swept")
    assert(Files.exists(
        Paths.get(live.toString, "0", "task0", "part-0.parquet")),
      "a _temporary tree with any fresh entry belongs to a live writer")
    // the published table is untouched either way
    assert(ManifestTable.readAt(s, root, 1)
      .collect().map(_.getInt(0)).sorted.toSeq == (1 to 5))
  }

  test("maintenance storm: vacuum + expire race concurrent committers, " +
       "a compactor and a reader; no live file is ever unlinked") {
    // r17 verdict #7 — the FULL maintenance storm in one property:
    // 4 appenders, a compactor, a latest-version reader, and a
    // maintenance loop (expireVersions + age-gated vacuum) all race on
    // one table. The pinned contract: at every maintenance round, every
    // data file of every REMAINING manifest version still exists, and
    // the final table holds the initial rows plus every appended value
    // exactly once — while vacuum DOES delete the compaction orphans
    // that aged out of retention (a storm where vacuum never deletes
    // anything would prove nothing).
    import graft.sources.ManifestTable
    import java.nio.file.{Files, Paths}
    val root = tmpDir("manifest_storm")
    val s = spark
    import s.implicits._
    ManifestTable.commit(s, root, (1 to 20).toDF("v"), overwrite = false)
    // age gate: long enough to cover any in-flight write→link window
    // under load, short enough that compaction orphans age out and are
    // actually GC'd during/after the storm
    val gateMs = 1500L
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def guarded(body: => Unit): Future[Unit] =
      Future(try body catch { case t: Throwable => errors.add(t) })
    // the liveness invariant — called from the maintenance thread only,
    // so it never races its own expireVersions
    def assertLive(tag: String): Unit = {
      val latest = ManifestTable.latestVersion(root)
      (1 to latest).foreach { v =>
        if (Files.exists(Paths.get(root, "_manifest", f"v$v%08d.txt")))
          ManifestTable.filesAt(root, v).foreach(f =>
            assert(Files.exists(Paths.get(f)),
              s"$tag: live file of v$v was unlinked: $f"))
      }
    }
    val writers = (1 to 4).map { w =>
      guarded {
        (0 until 5).foreach { i =>
          ManifestTable.commit(s, root, Seq(1000 * w + i).toDF("v"),
            overwrite = false)
          Thread.sleep(120)
        }
      }
    }
    val compactor = guarded {
      (0 until 5).foreach { _ =>
        ManifestTable.compact(s, root, 1L << 20, 1L << 20)
        Thread.sleep(350)
      }
    }
    val reader = guarded {
      (0 until 30).foreach { _ =>
        // a reader pinned at what WAS the latest can see its version
        // expire mid-read when ≥keepLast commits land in the window —
        // the documented retention contract is "retry at the new
        // latest", so only that precise failure is tolerated here
        try assert(ManifestTable.readAt(s, root,
            ManifestTable.latestVersion(root)).count() >= 20)
        catch { case _: IllegalArgumentException => () }
        Thread.sleep(80)
      }
    }
    // time-travel readers (r18 verdict #7): two threads each pin a
    // version INSIDE the keepLast=3 retention window and read it in
    // full while commits, compaction, expire and vacuum all race. The
    // pinned contract: every read that completes serves a COMPLETE,
    // CONSISTENT snapshot — the initial 20 rows exactly once, appended
    // values at most once, nothing alien (a torn compaction rebase
    // would duplicate or drop initial rows; a vacuumed-but-referenced
    // file would lose them). A version EXPIRED between pick and read
    // may fail — but only if it really is gone by then (same retention
    // contract as the latest-reader above); any other failure rethrows.
    val appendedVals =
      (for (w <- 1 to 4; i <- 0 until 5) yield 1000 * w + i).toSet
    val ttReaders = (0 until 2).map { t =>
      guarded {
        val rnd = new scala.util.Random(7 + t)
        (0 until 20).foreach { _ =>
          val latest = ManifestTable.latestVersion(root)
          val v = math.max(1, latest - rnd.nextInt(3))
          try {
            val vals = ManifestTable.readAt(s, root, v)
              .collect().map(_.getInt(0)).toSeq
            val (init, rest) = vals.partition(_ <= 20)
            assert(init.sorted == (1 to 20),
              s"time-travel read of v$v tore the initial commit: " +
                s"${init.sorted.take(30)}")
            assert(rest.distinct.size == rest.size &&
                rest.forall(appendedVals.contains),
              s"time-travel read of v$v saw duplicated/alien appends")
          } catch {
            case t: Throwable =>
              if (Files.exists(Paths.get(root, "_manifest",
                  f"v$v%08d.txt"))) throw t
            // else: v expired mid-read — the documented contract
          }
          Thread.sleep(60)
        }
      }
    }
    val maintenance = guarded {
      (0 until 10).foreach { r =>
        ManifestTable.expireVersions(root, keepLast = 3)
        ManifestTable.vacuum(root, gateMs)
        assertLive(s"storm round $r")
        Thread.sleep(300)
      }
    }
    Await.result(
      Future.sequence(writers ++ ttReaders ++
        Seq(compactor, reader, maintenance)),
      5.minutes)
    assert(errors.isEmpty, s"storm thread failed: ${errors.peek()}")
    // quiesce past the age gate, then the terminal maintenance pass:
    // with history bounded to the latest version, every compaction
    // input and raced data dir is an aged orphan — vacuum must sweep
    // them AND leave the live table bit-for-bit intact
    Thread.sleep(gateMs + 200)
    ManifestTable.expireVersions(root, keepLast = 1)
    val swept = ManifestTable.vacuum(root, gateMs)
    assertLive("final sweep")
    assert(swept.nonEmpty,
      "the storm must leave GC-able orphans (compaction rewrote files)")
    val expect = ((1 to 20) ++
      (for (w <- 1 to 4; i <- 0 until 5) yield 1000 * w + i)).sorted
    val got = ManifestTable
      .readAt(s, root, ManifestTable.latestVersion(root))
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(got == expect,
      "post-storm table must hold initial + every appended row exactly once")
  }

  test("dedupBase invalidates when a corpus dir is rewritten in place") {
    // r18 verdict #5 / ADVICE: the memoized checkpoint-pinned dedup
    // build was keyed on the dir STRING only — a caller that rewrites a
    // corpus in place and re-queries the same path got stale pinned
    // plans over deleted files. The key now carries a part-file version
    // stamp; this pins the contract end-to-end: same path, different
    // corpus, fresh values.
    val s = spark
    import s.implicits._
    val dir = tmpDir("dedup_rewrite")
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text")
        .selectExpr("doc_id", "text", "'en' AS lang", "'t' AS source",
          "CAST(length(text) AS BIGINT) AS n_chars")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val shared = (1 to 12).map(i => s"alpha$i").mkString(" ")
    // corpus A: docs 1 and 2 share every 3-gram shingle (J = 1 ≥ 0.5),
    // doc 3 disjoint → exactly one qualifying pair (expanded form)
    write(Seq(1L -> shared, 2L -> shared,
      3L -> (1 to 12).map(i => s"beta$i").mkString(" ")))
    val q = SparkEntry.queries("q_dedup_jaccard_pairs")
    val nA = q(s, dir).count()
    assert(nA == 1L, s"corpus A must yield exactly one J>=0.5 pair, got $nA")
    // rewrite IN PLACE: three mutually shingle-disjoint docs → 0 pairs.
    // A stale pinned build would keep reporting corpus A's pair (or
    // crash on the deleted part files).
    write(Seq(1L -> (1 to 12).map(i => s"gamma$i").mkString(" "),
      2L -> (1 to 12).map(i => s"delta$i").mkString(" "),
      3L -> (1 to 12).map(i => s"epsil$i").mkString(" ")))
    val nB = q(s, dir).count()
    assert(nB == 0L,
      s"rewritten corpus must re-derive the dedup build (got $nB pairs)")
  }
}
