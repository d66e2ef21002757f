package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: set up, run one workload, write the result.
  *
  * Usage (normally launched by `perfbench/run.py`):
  * {{{
  * perfbench.Main --workload relational_scan|dashboard_live --seed N
  *   --seconds S --trace 0|1 --work DIR --out FILE [--data DIR]
  *   [--stage DIR --backlog-files N --live-files N --interval-ms MS --rest-rate R]
  * }}}
  *
  * The run builds one session, runs the workload on it, and then times
  * [[SetupRounds]] alike set-up rounds on the warm JVM: each stops the
  * previous session, builds a fresh one and does the workload's first
  * piece of work (see [[setupRound]]). `setup_s` is their median. The
  * cold set-up, from JVM start to the workload's first timed operation,
  * is reported by name as `setup_cold_s`.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args.get("trace").contains("1")
    val work = args("work")
    val cores = 4 // local[4]; the harness's own threads stay within the host's 4 cores
    Files.createDirectories(Paths.get(work))

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    var spark = newSession(cores)
    val tracer = if (traced) Some(new Tracer) else None
    val probes = new Probes(spark, traced)
    val result = workload match {
      case "relational_scan" => batch(spark, args, BatchRun.RelationalScan, seed, seconds,
        probes, tracer, cores)
      case "dashboard_live" => live(spark, args, probes, tracer, cores)
      case other => sys.error(s"unknown workload $other")
    }
    probes.detach()
    tracer.foreach(_.write(Paths.get(work, "spans.json")))

    // ---- set-up rounds, alike, on the warm JVM
    val setups = (1 to SetupRounds).map { i =>
      val s0 = Tracer.nowMs()
      spark.stop()
      spark = newSession(cores)
      setupRound(spark, workload, args, s"$work/setup-$i")
      (Tracer.nowMs() - s0) / 1000.0
    }
    spark.stop()

    val metrics = result.endToEnd ++ Map("setup_s" -> Stats.median(setups))
    val human = result.human ++ Map(
      "setup_cold_s" -> (result.human("first_timed_ms") - jvmStart) / 1000.0,
      "peak_rss_mb" -> peakRssMb()) - "first_timed_ms"
    val body = Json.obj(
      "attempted" -> result.attempted, "failed" -> result.failed,
      "metrics" -> metrics, "layers" -> result.layers, "human" -> human,
      "setup_rounds_s" -> setups, "notes" -> result.notes)
    Files.write(Paths.get(args("out")), body.getBytes("UTF-8"))
    // No thread the run left behind may keep the JVM alive.
    sys.exit(0)
  }

  val SetupRounds = 3

  def newSession(cores: Int): SparkSession = {
    val spark = graft.Session.builder("perfbench", cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** A set-up round's first piece of work: the first query of the batch
    * mix, or starting the live graph with its serving stack. */
  private def setupRound(spark: SparkSession, workload: String, args: Map[String, String],
      dir: String): Unit = workload match {
    case "dashboard_live" => LiveRun.setupRound(spark, dir)
    case _ => graft.SparkEntry.queries(BatchRun.RelationalScan.head)(spark, args("data"))
      .write.format("noop").mode("overwrite").save()
  }

  /** Memory the program holds: heap in use after a full collection, in MiB. */
  def retainedMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** JVM-wide GC time and JIT compile time so far, in ms. */
  def gcJit(): (Double, Double) = (
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble)

  /** The process's high-water resident set (`VmHWM`), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  private def batch(spark: SparkSession, args: Map[String, String], names: Seq[String],
      seed: Long, seconds: Int, probes: Probes, tracer: Option[Tracer],
      cores: Int): LiveRun.Outcome = {
    val data = args("data")
    val results = s"${args("work")}/results"
    // untimed: a cold check pass writes every result for the DuckDB oracle
    // compare, then a warm-up pass runs exactly like a timed one
    val check0 = Tracer.nowMs()
    val checkFailures = BatchRun.checkPass(spark, names, data, results)
    val checkS = (Tracer.nowMs() - check0) / 1000.0
    // every query has run once, in the registry's order: what the program
    // holds from here on (the seed-permuted passes would leave a different
    // set of generated classes in Spark's code cache on every seed)
    val retained = retainedMb()
    val warm0 = Tracer.nowMs()
    val warm = BatchRun.passes(spark, names, data, seed, Double.MaxValue, maxPasses = 1)
    val warmS = (Tracer.nowMs() - warm0) / 1000.0
    val oracle = names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    Files.write(Paths.get(results, "oracle_sql.json"), Json.value(oracle).getBytes("UTF-8"))
    probes.plans.clear(); probes.jobs.clear(); probes.stages.clear(); probes.failedTasks.set(0)
    val (gc0, jit0) = gcJit()
    val firstTimed = Tracer.nowMs()
    val execs = BatchRun.passes(spark, names, data, seed, firstTimed + seconds * 1000.0)
    val (gc1, jit1) = gcJit()
    probes.settle()
    val e2e = BatchRun.endToEnd(execs, names) + ("retained_mb" -> retained)
    val walls = BatchRun.latencySamples(execs, names).map(_ / 1000.0)
    val tail = Stats.tail(walls)
    val layers = tracer.fold(Map.empty[String, Double]) { t =>
      BatchRun.layers(execs, names, probes, t, cores) ++
        Map("jvm.gc_ms" -> (gc1 - gc0), "jvm.jit_ms" -> (jit1 - jit0))
    }
    LiveRun.Outcome(e2e,
      Map("query_s_p50" -> e2e("latency_ms_p50") / 1000.0,
        "query_s_p90" -> Stats.pctOr(walls, 90, Double.NaN),
        "executions" -> execs.length.toDouble, "check_pass_s" -> checkS,
        "warm_pass_s" -> warmS, "window_jit_ms" -> (jit1 - jit0),
        "first_timed_ms" -> firstTimed),
      layers,
      execs.length + 2 * names.length,
      execs.count(!_.ok) + warm.count(!_.ok) + checkFailures.length,
      tail.map(t => f"query tail: p${t.percentile}%.1f = ${t.value}%.3f s over ${t.samples} executions").toSeq ++
        checkFailures.map(n => s"check pass failed: $n") ++
        warm.filterNot(_.ok).map(e => s"warm-up pass failed: ${e.name}"))
  }

  private def live(spark: SparkSession, args: Map[String, String], probes: Probes,
      tracer: Option[Tracer], cores: Int): LiveRun.Outcome = {
    val cfg = LiveRun.Config(args("stage"), args("work"), args("backlog-files").toInt,
      args("live-files").toInt, args("interval-ms").toDouble, args("rest-rate").toDouble)
    LiveRun.run(spark, cfg, probes, tracer, cores, () => gcJit())
  }
}
