package perfbench

import org.apache.spark.sql.SparkSession

/** The batch workload: one client runs the query mix in a closed loop
  * through `SparkEntry.queries`, in an order the seed permutes.
  *
  * Before the clock starts, two untimed passes run every query once: a
  * cold check pass that writes each result as parquet for the DuckDB
  * oracle compare, then a warm-up pass exactly like a timed one (together
  * they take class loading, the JIT's first compilations, the index caches
  * and the footer memos). The timed passes then materialize each query
  * with a noop-format write, as `graft.Bench` does, until the run's time
  * is up and at least one whole pass has run.
  *
  * Every pass of a run uses the same order, so each one meets the same
  * code-generator cache history: Spark's cache of compiled generated code
  * holds 100 entries, fewer than one pass over the mix produces, and with
  * a new order per pass its hit rate, and so the pass time, changed with
  * the order.
  */
object BatchRun {

  val RelationalScan: Seq[String] = Seq(
    "pricing_summary", "top_orders", "region_revenue", "market_share",
    "order_profile", "topk_window_rewrite", "topk_rank_ties", "kpi_sliding",
    "health_frame", "region_sliding", "activity_feed", "alert_rules",
    "cdc_reader", "cdc_scd2", "json_permissive", "cdc_avro_decode",
    "avro_decode", "gavro_scan_pushdown", "gavro_bloom_scan",
    "gavro_agg_pushdown", "gavro_cluster_scan", "user_sessions",
    "asof_last_purchase", "quantile_sketch_rollup")

  /** The module that registers each query; the relational queries that
    * `SparkEntry` registers itself are reported under `SparkEntry`. */
  lazy val moduleOf: Map[String, String] = Seq(
    "Frames" -> graft.ops.Frames.queries, "Cdc" -> graft.sources.Cdc.queries,
    "Activity" -> graft.ops.Activity.queries, "Alerts" -> graft.ops.Alerts.queries,
    "Temporal" -> graft.ops.Temporal.queries, "Sketches" -> graft.functions.Sketches.queries,
    "AvroCodec" -> graft.sources.AvroCodec.queries, "Gavro" -> graft.sources.Gavro.queries,
    "StreamJoins" -> graft.streaming.StreamJoins.queries,
    "Incremental" -> graft.ops.Incremental.queries, "Pipeline" -> graft.ops.Pipeline.queries,
  ).flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap.withDefaultValue("SparkEntry")

  final case class Exec(name: String, pass: Int, t0: Double, t1: Double, t2: Double,
      ok: Boolean) {
    def wallMs: Double = t2 - t0
  }

  /** Runs every query once and writes its result for the oracle compare;
    * returns the names that failed to run. The source-format queries
    * (gavro, Avro, CDC) run in a second thread beside the rest, which
    * halves the wall time of this cold pass; each thread runs its share in
    * order, so no two queries of one module ever overlap. */
  def checkPass(spark: SparkSession, names: Seq[String], dataDir: String,
      outDir: String): Seq[String] = {
    def run(share: Seq[String]): Seq[String] = share.flatMap { name =>
      try {
        graft.SparkEntry.queries(name)(spark, dataDir)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] check pass: $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    val (sources, rest) = names.partition(n => Set("Gavro", "AvroCodec", "Cdc")(moduleOf(n)))
    var failed: Seq[String] = Nil
    val other = new Thread(() => failed = run(sources), "perfbench-check")
    other.start()
    val mine = run(rest)
    other.join()
    mine ++ failed
  }

  /** Runs passes over the mix until `deadline` or `maxPasses` passes. A
    * query that starts before the deadline runs to its end, and the first
    * pass always runs to its end, so every query has a time. */
  def passes(spark: SparkSession, names: Seq[String], dataDir: String,
      seed: Long, deadline: Double, maxPasses: Int = Int.MaxValue): Seq[Exec] = {
    val execs = Vector.newBuilder[Exec]
    val order = new scala.util.Random(seed).shuffle(names)
    var pass = 0
    var running = true
    while (running && pass < maxPasses) {
      order.foreach { name =>
        if (running && (pass == 0 || Tracer.nowMs() < deadline)) {
          spark.catalog.clearCache()
          val t0 = Tracer.nowMs()
          var t1 = t0
          val ok = try {
            val df = graft.SparkEntry.queries(name)(spark, dataDir)
            t1 = Tracer.nowMs()
            df.write.format("noop").mode("overwrite").save()
            true
          } catch { case e: Throwable =>
            System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
            false
          }
          execs += Exec(name, pass, t0, t1, Tracer.nowMs(), ok)
        } else running = false
      }
      pass += 1
    }
    execs.result()
  }

  /** End-to-end metrics of the timed passes. `pass_s` is the expected
    * wall time of one full pass: the sum over the mix of each query's
    * mean time, which uses every execution including a last, partial pass.
    * The latency percentiles use complete passes only, so every query
    * weighs the same in every run (a partial pass would add a random
    * subset of the mix); with no complete pass they use every execution.
    */
  def endToEnd(execs: Seq[Exec], names: Seq[String]): Map[String, Double] = {
    val byName = execs.filter(_.ok).groupBy(_.name)
    val complete = names.forall(byName.contains)
    val walls = latencySamples(execs, names)
    Map(
      "pass_s" -> (if (complete) names.map(n => Stats.mean(byName(n).map(_.wallMs))).sum / 1000.0
                   else Double.NaN),
      "latency_ms_p50" -> Stats.pctOr(walls, 50, Double.NaN),
      "latency_ms_p75" -> Stats.pctOr(walls, 75, Double.NaN))
  }

  /** Wall times (ms) the latency percentiles use: the successful
    * executions of the complete passes, else of every pass. */
  def latencySamples(execs: Seq[Exec], names: Seq[String]): Seq[Double] = {
    val ok = execs.filter(_.ok)
    val full = execs.groupBy(_.pass).values.filter(_.length == names.length).flatten
      .filter(_.ok).toSeq
    (if (full.nonEmpty) full else ok).map(_.wallMs)
  }

  /** Per-layer metrics of a traced run, and the span tree
    * pass → query → build / plan / execute → job → stage. */
  def layers(execs: Seq[Exec], names: Seq[String], probes: Probes, tracer: Tracer,
      cores: Int): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val jobs = probes.jobs.asScala.toVector
    val stages = probes.stages.asScala.toVector.map(s => s.stageId -> s).toMap
    val plans = probes.plans.asScala.toVector
    val n = math.max(1, execs.length).toDouble
    var covered = 0.0
    var planMs = Vector.empty[Double]
    var used = Vector.empty[JobRec]
    var exchanges, topk, gRead, gTotal = 0L
    execs.groupBy(_.pass).toSeq.sortBy(_._1).foreach { case (_, xs) =>
      val passId = tracer.add(0, 0, "pass", xs.map(_.t0).min, xs.map(_.t2).max)
      xs.foreach { e =>
        val trace = tracer.nextId()
        val qId = tracer.add(passId, trace, s"query:${e.name}", e.t0, e.t2, id = trace)
        val build = tracer.add(qId, trace, "build", e.t0, e.t1)
        // the action's planning phases; the noop write plans inside execute
        val plan = plans.filter(r => r.planStart >= e.t1 - 1 && r.planEnd <= e.t2 + 1)
          .sortBy(_.planStart).lastOption
        var execStart = e.t1
        plan.foreach { r =>
          tracer.add(qId, trace, "plan", r.planStart, r.planEnd)
          planMs :+= r.planEnd - r.planStart
          execStart = r.planEnd
          exchanges += r.exchanges; topk += r.topk
          gRead += r.gavroRead; gTotal += r.gavroTotal
        }
        val exec = tracer.add(qId, trace, "execute", execStart, e.t2)
        covered += math.min(e.wallMs, (e.t1 - e.t0) + (e.t2 - execStart) +
          plan.map(r => r.planEnd - r.planStart).getOrElse(0.0))
        jobs.filter(j => j.start >= e.t0 - 1 && j.end <= e.t2 + 1).foreach { j =>
          used :+= j
          val jid = tracer.add(if (j.start < e.t1) build else exec, trace,
            s"job:${j.jobId}", j.start, j.end)
          j.stageIds.flatMap(stages.get).foreach(s =>
            tracer.add(jid, trace, s"stage:${s.stageId}", s.start, s.end))
        }
      }
    }
    val wall = execs.map(_.wallMs).sum
    val walls = execs.map(_.wallMs)
    val perModule = execs.filter(_.ok).groupBy(e => moduleOf(e.name)).map { case (m, xs) =>
      m -> xs.groupBy(_.name).values.map(v => Stats.mean(v.map(_.wallMs))).sum / 1000.0
    }
    val passS = perModule.values.sum
    perModule.flatMap { case (m, s) =>
      Seq(s"ops.$m.s" -> s, s"ops.$m.share" -> (if (passS > 0) s / passS else 0.0))
    } ++ Probes.session(used, stages, n, wall, cores, probes.failedTasks.get) ++ Map(
      "query.build_ms" -> Stats.mean(execs.map(e => e.t1 - e.t0)),
      "query.plan_ms" -> Stats.mean(planMs),
      "query.wall_ms_p50" -> Stats.pctOr(walls, 50, 0.0),
      "query.wall_ms_p90" -> Stats.pctOr(walls, 90, 0.0),
      "plans.exchanges" -> exchanges / n,
      "plans.topk_nodes" -> topk * names.length / n,
      "sources.gavro_blocks_read" -> gRead / n, "sources.gavro_blocks_total" -> gTotal / n,
      "sources.gavro_block_read_frac" -> (if (gTotal > 0) gRead.toDouble / gTotal else 0.0),
      "trace.coverage" -> (if (wall > 0) covered / wall else 0.0))
  }
}
