package etlbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics

/** The benchmark's JVM side. Arguments are `key=value` pairs:
  *
  *  - `workload`, `inputs` (the derived input directory), `work` (working
  *    directory for stores and exports), `slots`;
  *  - `warmup`, `min_passes`, `seconds`: after set-up and one cold pass,
  *    `warmup` untimed passes, then timed passes until both `min_passes`
  *    and `seconds` are reached;
  *  - `trace=1`: alternate untraced and traced timed passes, then record
  *    the live heap and time the Catalyst kernels over the same corpus;
  *  - `reference=1`: after timing, recompute every output in a fresh
  *    session with whole-stage codegen and AQE off, collected to the driver;
  *  - `record=<input dir>,<input dir>,…`: no timing; the reference digests
  *    of every listed input directory, each in a fresh session;
  *  - `out`: where the run's JSON record goes.
  *
  * All statistics are computed by the Python runner from that record.
  */
object Main {

  private val wallBase = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  /** Epoch nanoseconds on the monotonic clock, comparable with the
    * listener's epoch-millisecond job times.
    */
  def now(): Long = wallBase + (System.nanoTime() - nanoBase)

  /** Session ready: extensions injected, engine functions registered and
    * every input table attached as a view (which lists its files).
    */
  def setUp(slots: Int, work: String, inputs: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("etlbench")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.VectorFunctions.register(spark)
    graft.sources.Tables.createViews(spark, inputs)
    spark
  }

  /** Single-thread CPU probe (the loop of `Bench.calibCpu`): a loaded
    * window shows up here before it is read as a regression.
    */
  def calibCpu(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < (1 << 27)) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(-1.0)

  /** Heap in use after a full collection: what the session retains
    * (stores, cached blocks, broadcasts, catalog), not what it churns.
    */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val slots = a("slots").toInt
    val rec = a.get("record") match {
      case Some(dirs) => Map("reference" -> dirs.split(",").map { d =>
          d -> Runner.referenceDigests(slots, a("work"), a("workload"), d)
        }.toMap)
      case None =>
        val spark = setUp(slots, a("work"), a("inputs"))
        val started =
          ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
        Map("setup_s" -> (now() - started) / 1e9) ++
          new Runner(spark, a).run()
    }
    Files.writeString(Paths.get(a("out")),
      org.json4s.jackson.Serialization.write(rec)(org.json4s.DefaultFormats))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}

/** One run of one workload in one JVM. */
final class Runner(spark: SparkSession, a: Map[String, String]) {
  import Main.now

  private val workload = a("workload")
  private val steps = Workloads.all(workload)
  private val inputs = a("inputs")
  private val work = a("work")
  private val slots = a("slots").toInt
  private val queries = graft.SparkEntry.queries
  private val probe = new Probe
  spark.sparkContext.addSparkListener(probe)
  private var drainTimeouts = 0
  private var lastPass: Seq[(Step, DataFrame)] = Nil

  private def exportInputs =
    Workloads.exportInputs.map(t => s"$inputs/$t.parquet")

  /** One pass over the workload's steps. A thrown query is recorded with
    * its message; the pass goes on.
    */
  def pass(label: String, traced: Boolean): Map[String, Any] = {
    val sc = spark.sparkContext
    probe.on = traced
    val exportRoot = Paths.get(work, "exports", label)
    val cg0 = (CodeGenerator.compileTime,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    val aqe0 = probe.aqeUpdates.get
    val t0 = now()
    val dfs = ArrayBuffer.empty[(Step, DataFrame)]
    val recs = steps.map { step =>
      sc.setJobGroup(s"$workload/$label/${step.query}", "build")
      val r = scala.collection.mutable.LinkedHashMap[String, Any](
        "query" -> step.query, "start" -> now())
      try {
        val b0 = graft.sources.BuildTimer.snapshot
        val df = queries(step.query)(spark, inputs)
        r("store_build_ns") = graft.sources.BuildTimer.snapshot - b0
        r("built") = now()
        sc.setJobDescription("plan")
        val physical = df.queryExecution.executedPlan
        r("planned") = now()
        sc.setJobDescription("deliver")
        val x0 = graft.sources.BuildTimer.snapshot
        val d = if (step.export) {
          val (d, rebuilt) = Deliver.export(spark, df, exportInputs,
            exportRoot.resolve(step.query).toString)
          r("export_rebuilt") = rebuilt
          d
        } else Deliver.digest(df)
        r("export_ns") = graft.sources.BuildTimer.snapshot - x0
        r("delivered") = now()
        r("digest") = d.show
        dfs += step -> df
        if (traced) {
          val qe = df.queryExecution
          val ph = qe.tracker.phases
          def phaseMs(k: String) =
            ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
          val (files, bytes) = Deliver.scanStats(physical)
          r ++= Seq("analysis_ms" -> phaseMs("analysis"),
            "optimizer_ms" -> phaseMs("optimization"),
            "physical_ms" -> phaseMs("planning"),
            "plan_nodes" -> Deliver.nodeCount(physical),
            "exprs" -> Deliver.exprCount(qe.optimizedPlan),
            "scan_files" -> files, "scan_bytes" -> bytes)
        }
      } catch { case e: Throwable =>
        r("error") = s"${e.getClass.getName}: ${e.getMessage}".take(500)
        r("delivered") = now()
      }
      sc.clearJobGroup()
      r.toMap
    }
    val t1 = now()
    lastPass = dfs.toSeq
    deleteTree(exportRoot)
    val out = Map[String, Any]("label" -> label, "traced" -> traced,
      "start" -> t0, "end" -> t1, "wall_s" -> (t1 - t0) / 1e9,
      "queries" -> recs,
      "codegen_compile_ns" -> (CodeGenerator.compileTime - cg0._1),
      "codegen_compiles" ->
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0._2))
    if (!traced) out
    else {
      if (!org.apache.spark.etlbench.Drain(sc)) drainTimeouts += 1
      probe.on = false
      out ++ Map(
        "jobs" -> probe.take(s"$workload/$label/").map(_.toMap),
        "aqe_updates" -> (probe.aqeUpdates.get - aqe0))
    }
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally s.close()
    }

  def run(): Map[String, Any] = {
    val seconds = a("seconds").toDouble
    val traced = a.get("trace").contains("1")
    val calib0 = Main.calibCpu()
    val cold = pass("cold", traced = false)
    val warm = (1 to a("warmup").toInt).map(i => pass(s"warm$i", false))
    val timed = ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    val minPasses = a("min_passes").toInt
    while (timed.size < minPasses ||
           (System.nanoTime() - t0) / 1e9 < seconds) {
      val n = timed.size
      timed += pass(s"timed$n", traced && n % 2 == 1)
    }
    val rss = Main.peakRssMb()
    val calib1 = Main.calibCpu()
    val guard = lastPass.map { case (step, df) =>
      step.query -> Deliver.guard(df).getOrElse("ok")
    }.toMap
    val live = if (traced) Main.liveHeapMb() else 0.0
    val kernels =
      if (traced) Kernels.time(spark, inputs)
      else Map.empty[String, Any]
    val reference =
      if (a.get("reference").contains("1")) {
        spark.stop()
        Runner.referenceDigests(slots, work, workload, inputs)
      } else Map.empty[String, String]
    Map("workload" -> workload, "slots" -> slots,
      "calib_cpu_s" -> Seq(calib0, calib1), "cold" -> cold, "warm" -> warm,
      "timed" -> timed.toSeq, "peak_rss_mb" -> rss, "live_heap_mb" -> live,
      "guard" -> guard, "listener_drain_timeouts" -> drainTimeouts,
      "kernels" -> kernels, "reference" -> reference)
  }
}

object Runner {

  /** Every output of `workload` over `inputs`, in a fresh session (so
    * stores are rebuilt, not reused) with whole-stage codegen and AQE off,
    * collected to the driver.
    */
  def referenceDigests(slots: Int, work: String, workload: String,
                       inputs: String): Map[String, String] = {
    val spark = Main.setUp(slots, work, inputs)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try Workloads.all(workload).map { step =>
      step.query -> (try
        Deliver.collectDigest(
          graft.SparkEntry.queries(step.query)(spark, inputs)).show
      catch { case e: Throwable => s"error: ${e.getMessage}".take(300) })
    }.toMap
    finally spark.stop()
  }
}
