package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming._

/** The live dashboard workload: the whole `StreamMain` graph in one
  * session on a 1 s trigger, over the parquet drop-dir source, with the
  * jobs, `Api` and `WsPush` sharing one `RespKvStore` over
  * `RespServerStub`.
  *
  * Phase 1 (catch-up) starts the graph against a pre-staged backlog and
  * times how long every query takes to commit past it. Phase 2 (live) is
  * open loop: a generator thread moves one pre-staged file into the
  * drop-dir per tick on a fixed schedule, a REST client GETs the nine
  * snapshot routes at a fixed rate and a WebSocket client reads frames.
  * The gated latency is panel freshness ([[panelFreshness]]); event
  * freshness is, for each event shown in an `activity` frame, the time
  * from its file's scheduled release to the first frame that carries it.
  */
object LiveRun {

  /** The queries that read the event stream (the alerts query reads the
    * derived KPI stream instead). */
  val EventQueries: Seq[String] =
    Seq("kpi", "activity", "regions", "traffic", "health", "geo", "platform", "kpi-relay")

  val Routes: Seq[String] = Seq("metrics", "traffic", "activities", "regions", "flows",
    "alerts", "platform", "health", "geo").map(r => s"/api/$r")

  /** The query whose batches publish each push event (alerts are left out:
    * they follow the derived KPI stream, not the released events). */
  val EventSource: Map[String, String] = Map("metrics" -> "kpi", "traffic" -> "traffic",
    "activity" -> "activity", "regions" -> "regions", "flows" -> "regions",
    "platform" -> "platform", "health" -> "health", "geo" -> "geo")

  final case class StagedFile(name: String, firstId: Long, n: Int)

  final case class Config(stageDir: String, workDir: String, backlogFiles: Int,
      liveFiles: Int, intervalMs: Double, restRate: Double)

  final case class Outcome(endToEnd: Map[String, Double], human: Map[String, Double],
      layers: Map[String, Double], attempted: Long, failed: Long, notes: Seq[String])

  def manifest(stageDir: String): Vector[StagedFile] =
    Files.readAllLines(Paths.get(stageDir, "manifest.tsv")).asScala.toVector
      .filter(_.nonEmpty).map { l =>
        val Array(f, id, n) = l.split("\t")
        StagedFile(f, id.toLong, n.toInt)
      }

  /** Serving stack: stub server, one shared RESP store, REST and push. */
  final class Stack(traced: Option[Tracer]) extends AutoCloseable {
    val stub = new RespServerStub
    val store = new RespKvStore("127.0.0.1", stub.port)
    val jobsKv: KvStore = traced.fold[KvStore](store)(t => new TimingKvStore(store, "KvSink", Some(t)))
    val serveKv: KvStore = traced.fold[KvStore](store)(t => new TimingKvStore(store, "Resp", Some(t)))
    val api = Api.start(serveKv, 0)
    val ws = WsPush.start(serveKv, 0)
    override def close(): Unit = {
      api.stop(0); ws.close(); store.close(); stub.close()
    }
  }

  /** Starts the whole `StreamMain` graph on a 1 s trigger over the drop-dir. */
  def startGraph(spark: SparkSession, kv: KvStore, drop: String,
      ckpt: String): Seq[StreamingQuery] = {
    val derived = s"$ckpt/derived-kpis"
    Files.createDirectories(Paths.get(derived))
    val trigger = Trigger.ProcessingTime("1 second")
    val source = () => Jobs.fileEventStream(spark, drop)
    Jobs.transactionsJob(source, kv, ckpt, trigger) ++
      Jobs.infrastructureJob(source, kv, ckpt, trigger) ++
      Jobs.derivedJob(source, kv, ckpt, trigger) ++
      Seq(Jobs.kpiRelayJob(source, derived, ckpt, trigger),
        Jobs.alertsJob(() => Jobs.fileKpiStream(spark, derived), kv, ckpt, trigger))
  }

  /** One set-up round: bring the serving stack up, take the initial
    * snapshot frames over a WebSocket, start every query of the graph over
    * an empty drop-dir (each `start` returns once its stream thread runs),
    * then bring it all down. The round does not wait for the first
    * trigger: with no data its time is scheduling (1-9 s over three
    * rounds), not work. */
  def setupRound(spark: SparkSession, dir: String): Unit = {
    val stack = new Stack(None)
    var queries: Seq[StreamingQuery] = Nil
    try {
      val got = new java.util.concurrent.CountDownLatch(Api.ChannelToEvent.size)
      val c = new WsClient(stack.ws.port, _ => got.countDown())
      got.await(10, java.util.concurrent.TimeUnit.SECONDS)
      c.close()
      val drop = Paths.get(dir, "drop")
      Files.createDirectories(drop)
      queries = startGraph(spark, stack.jobsKv, drop.toString, s"$dir/ckpt")
      if (!queries.forall(_.isActive)) sys.error("set-up round: a query of the graph did not start")
    } finally {
      queries.foreach(q => try q.stop() catch { case _: Exception => () })
      stack.close()
    }
  }

  private def consumed(probes: Probes): Map[String, Long] =
    probes.progress.asScala.toVector.groupBy(_.p.name)
      .map { case (q, ps) => q -> ps.map(_.p.numInputRows).sum }

  /** How many times a query's plan scans the source: a query that unions
    * several branches over one source reports each event once per scan. */
  private def scans(q: StreamingQuery): Int = q match {
    case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
      w.streamingQuery.logicalPlan.collectLeaves().count(_.isStreaming)
    case _ => 0
  }

  private def waitFor(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < end) Thread.sleep(20)
    cond
  }

  def run(spark: SparkSession, cfg: Config, probes: Probes, tracer: Option[Tracer],
      cores: Int, gcJit: () => (Double, Double)): Outcome = {
    val files = manifest(cfg.stageDir)
    val backlog = files.take(cfg.backlogFiles)
    val live = files.slice(cfg.backlogFiles, cfg.backlogFiles + cfg.liveFiles)
    val drop = Paths.get(cfg.workDir, "drop")
    val ckpt = Paths.get(cfg.workDir, "ckpt").toString
    Files.createDirectories(drop)
    def release(f: StagedFile): Unit =
      Files.move(Paths.get(cfg.stageDir, f.name), drop.resolve(f.name),
        StandardCopyOption.ATOMIC_MOVE)

    val stack = new Stack(tracer)
    val notes = Vector.newBuilder[String]
    var queries: Seq[StreamingQuery] = Nil
    try {
      // ---- phase 1: catch-up over the pre-staged backlog
      backlog.foreach(release)
      val backlogEvents = backlog.map(_.n.toLong).sum
      val c0 = Tracer.nowMs()
      queries = startGraph(spark, stack.jobsKv, drop.toString, ckpt)
      val buildMs = (Tracer.nowMs() - c0) / queries.length
      // events each query has read = rows / its scan multiplicity, once known
      val mult = scala.collection.mutable.Map.empty[String, Int]
      def read(c: Map[String, Long], q: String): Long = {
        if (!mult.contains(q)) queries.find(_.name == q).map(scans).filter(_ > 0)
          .foreach(mult(q) = _)
        mult.get(q).map(c.getOrElse(q, 0L) / _).getOrElse(0L)
      }
      val caughtUp = waitFor(120000) {
        val c = consumed(probes)
        EventQueries.forall(q => read(c, q) >= backlogEvents)
      }
      // The catch-up ends when the last query's batch that took it past
      // the backlog finished (trigger start + its execution time).
      val c1 = EventQueries.map { q =>
        var sum = 0L
        probes.progress.asScala.toVector.filter(_.p.name == q)
          .sortBy(_.p.batchId)
          .find { r => sum += r.p.numInputRows; sum >= backlogEvents * mult.getOrElse(q, 1) }
          .map(r => Probes.triggerStart(r.p) + Probes.durationMs(r.p, "triggerExecution"))
          .getOrElse(Tracer.nowMs())
      }.max
      if (!caughtUp) notes += "catch-up did not finish within 120 s"
      // held memory once the backlog is in the state stores and the KV
      // store: the least of three readings, each taken while no query runs
      // a trigger, so a batch in flight does not count
      val retained = (1 to 3).map { _ =>
        waitFor(5000)(queries.forall(!_.status.isTriggerActive))
        Main.retainedMb()
      }.min

      // ---- phase 2: live, open loop
      val liveFirstId = live.headOption.map(_.firstId).getOrElse(Long.MaxValue)
      val firstIds = live.map(_.firstId).toArray
      val seen = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Boolean]()
      val freshness = new ConcurrentLinkedQueue[java.lang.Double]()
      val frames = new ConcurrentLinkedQueue[(Double, String)]()
      @volatile var t0 = Double.MaxValue
      val ws = new WsClient(stack.ws.port, { fr =>
        tracer.foreach(_.add(0, 0, s"ws.frame:${fr.event}", fr.at, fr.at))
        frames.add(fr.at -> fr.event)
        if (fr.event == "activity") {
          LiveRun.ActivityId.findAllMatchIn(fr.text).map(_.group(1).toLong)
            .filter(_ >= liveFirstId).foreach { id =>
              if (seen.putIfAbsent(id, true) == null) {
                val i = java.util.Arrays.binarySearch(firstIds, id)
                val idx = if (i >= 0) i else -i - 2
                freshness.add(fr.at - (t0 + idx * cfg.intervalMs))
              }
            }
        }
      })
      val rest = new RestClient(stack.api.getAddress.getPort, Routes, cfg.restRate, tracer)
      val (gc0, jit0) = gcJit()
      var genLateMax = 0.0
      t0 = Tracer.nowMs() + 50
      rest.start()
      live.zipWithIndex.foreach { case (f, i) =>
        val due = t0 + i * cfg.intervalMs
        val wait = due - Tracer.nowMs()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        genLateMax = math.max(genLateMax, Tracer.nowMs() - due)
        release(f)
      }
      val liveEnd = Tracer.nowMs()
      rest.stop(2000)
      val released = backlogEvents + live.map(_.n.toLong).sum
      val drained = waitFor(60000) {
        val c = consumed(probes)
        EventQueries.forall(q => read(c, q) >= released)
      }
      if (!drained) notes += "final drain did not finish within 60 s"
      val drainEnd = Tracer.nowMs()
      val checks0 = Tracer.nowMs()
      Thread.sleep(500) // frames for the last batches are in flight
      ws.close()
      val (gc1, jit1) = gcJit()

      // ---- checks (untimed)
      val counts = consumed(probes)
      val countFails = EventQueries.filter(q =>
        counts.getOrElse(q, 0L) != released * mult.getOrElse(q, 1))
      countFails.foreach(q => notes += s"input rows of $q: ${counts.getOrElse(q, 0L)} != " +
        s"$released events x ${mult.getOrElse(q, 1)} scans")
      val undelivered = EventQueries.map(q => math.max(0L, released - read(counts, q))).max
      queries.foreach(_.stop())
      queries = Nil
      val all = spark.read.schema(Jobs.eventsSchema).parquet(drop.toString).persist()
      val platformOk = checkPlatform(stack.store, all)
      if (!platformOk) notes += "KV platform breakdown differs from Frames.platformFrame"
      val feedOk = checkFeed(stack.store, all)
      if (!feedOk) notes += "KV activity feed differs from Activity.top15"
      all.unpersist()
      probes.settle()
      val checksS = (Tracer.nowMs() - checks0) / 1000.0

      // ---- metrics
      val panel = panelFreshness(frames.asScala.toVector, probes, t0, cfg.intervalMs)
      val fr = freshness.asScala.map(_.doubleValue).toVector
      val api = rest.latencies.asScala.map(_.doubleValue).toVector
      val catchupS = (c1 - c0) / 1000.0
      if (fr.isEmpty) notes += "no activity frame carried a live event"
      if (panel.isEmpty) notes += "no dashboard frame followed a live batch"
      val e2e = Map(
        "pass_s" -> catchupS,
        "latency_ms_p50" -> Stats.pctOr(panel, 50, Double.NaN),
        "latency_ms_p75" -> Stats.pctOr(panel, 75, Double.NaN),
        "retained_mb" -> retained)
      val human = Map(
        "catchup_eps" -> backlogEvents / catchupS,
        "freshness_ms_p50" -> Stats.pctOr(fr, 50, Double.NaN),
        "freshness_ms_p90" -> Stats.pctOr(fr, 90, Double.NaN),
        "panel_freshness_ms_p90" -> Stats.pctOr(panel, 90, Double.NaN),
        "panel_freshness_samples" -> panel.length.toDouble,
        "api_ms_p50" -> Stats.pctOr(api, 50, Double.NaN),
        "api_ms_p99" -> Stats.pctOr(api, 99, Double.NaN),
        "freshness_samples" -> fr.length.toDouble, "api_samples" -> api.length.toDouble,
        "live_s" -> (liveEnd - t0) / 1000.0, "drain_s" -> (drainEnd - liveEnd) / 1000.0,
        "checks_s" -> checksS, "first_timed_ms" -> c0)
      Stats.tail(panel).foreach(t => notes += f"panel freshness tail: p${t.percentile}%.1f = ${t.value}%.1f ms over ${t.samples} samples")
      Stats.tail(fr).foreach(t => notes += f"freshness tail: p${t.percentile}%.1f = ${t.value}%.1f ms over ${t.samples} samples")
      Stats.tail(api).foreach(t => notes += f"api tail: p${t.percentile}%.1f = ${t.value}%.1f ms over ${t.samples} samples")
      val attempted = released + rest.sent.get + EventQueries.length + 2
      val failed = undelivered + rest.errors.get + countFails.length +
        (if (platformOk) 0 else 1) + (if (feedOk) 0 else 1)
      val layers = tracer.fold(Map.empty[String, Double]) { t =>
        streamingLayers(probes, t, c1, t0, drainEnd, cfg, backlogEvents,
          live.headOption.map(_.n).getOrElse(1), cores) ++
          kvLayers(stack, ws, rest) ++ Map(
          "gen.late_ms_max" -> genLateMax, "client.late_ms_max" -> rest.lateMaxMs,
          "jvm.gc_ms" -> (gc1 - gc0), "jvm.jit_ms" -> (jit1 - jit0),
          "query.build_ms" -> buildMs)
      }
      Outcome(e2e, human, layers, attempted, failed, notes.result())
    } finally {
      queries.foreach(q => try q.stop() catch { case _: Exception => () })
      stack.close()
    }
  }

  /** Panel freshness: for the first frame each live micro-batch pushes on
    * each of its channels, the time from the release of the newest file
    * that batch could read (the last one due before its trigger started)
    * to the frame's arrival. A frame belongs to the latest batch of its
    * channel's query that started before the frame arrived and had not
    * ended more than 200 ms earlier; batches without input are skipped. */
  def panelFreshness(frames: Seq[(Double, String)], probes: Probes, t0: Double,
      intervalMs: Double): Seq[Double] = {
    val batches = probes.progress.asScala.toVector.filter(_.p.numInputRows > 0)
      .map(r => (r.p.name, r.p.batchId, Probes.triggerStart(r.p),
        Probes.triggerStart(r.p) + Probes.durationMs(r.p, "triggerExecution")))
      .filter(_._3 >= t0).groupBy(_._1)
    val seen = scala.collection.mutable.Set.empty[(String, Long, String)]
    frames.sortBy(_._1).flatMap { case (at, event) =>
      EventSource.get(event).flatMap(q => batches.getOrElse(q, Vector.empty)
          .filter { case (_, _, s, e) => s <= at && at <= e + 200 }.sortBy(_._3).lastOption)
        .filter { case (q, b, _, _) => seen.add((q, b, event)) }
        .map { case (_, _, s, _) => at - (t0 + math.floor((s - t0) / intervalMs) * intervalMs) }
    }
  }

  val ActivityId = """"id":"evt_(\d+)"""".r
  private val FeedEntry = """"id":"evt_(\d+)".*"timestamp":"([^"]+)"""".r

  /** The KV platform breakdown equals `Frames.platformFrame` run as batch
    * over every released file, rendered the way the platform writer does. */
  def checkPlatform(store: KvStore, all: org.apache.spark.sql.DataFrame): Boolean = {
    val expected = graft.ops.Frames.platformFrame(all).collect()
      .sortBy(_.getAs[String]("name"))
      .map(r => s"""{"name":"${r.getAs[String]("name")}","value":${r.getAs[Long]("value")}}""")
      .mkString("[", ",", "]")
    store.readJson(Keys.PlatformBreakdown).contains(expected)
  }

  /** The KV activity feed equals `Activity.top15` over every released file.
    * The feed writer orders by the millisecond timestamp alone, so events
    * that tie on the oldest timestamp shown may stand in for each other:
    * timestamps must match exactly, and each shown event must be one that
    * is at least as new as the oldest shown. */
  def checkFeed(store: KvStore, all: org.apache.spark.sql.DataFrame): Boolean = {
    val feed = store.readList(Keys.ActivityFeed, 15).flatMap(e =>
      FeedEntry.findFirstMatchIn(e).map(m => (m.group(1).toLong, m.group(2))))
    val top = graft.ops.Activity.top15(all).select("id", "timestamp").collect()
      .map(r => (r.getString(0).stripPrefix("evt_").toLong, r.getString(1))).toVector
    if (top.isEmpty || feed.length != top.length) return false
    val boundary = top.map(_._2).min
    val eligible = graft.ops.Activity.activityFeed(all)
      .filter(col("timestamp") >= boundary).select("event_id").collect()
      .map(_.getLong(0)).toSet
    feed.map(_._2).sorted == top.map(_._2).sorted && feed.forall(f => eligible(f._1))
  }

  /** Per-layer metrics of the streaming graph, and the span tree
    * micro-batch → phases / jobs / KV calls. Phase and Session numbers are
    * per micro-batch with input, over the live phase; the catch-up numbers
    * cover the batches up to the end of catch-up. */
  private def streamingLayers(probes: Probes, tracer: Tracer, c1: Double,
      l0: Double, l1: Double, cfg: Config, backlogEvents: Long, eventsPerFile: Int,
      cores: Int): Map[String, Double] = {
    val all = probes.progress.asScala.toVector
    val ids = all.map(r => r.p.id.toString -> r.p.name).toMap
    val batchSpan = scala.collection.mutable.Map.empty[(String, Long), (Long, Double, Double)]
    all.foreach { r =>
      val p = r.p
      val s = Probes.triggerStart(p)
      val e = s + Probes.durationMs(p, "triggerExecution")
      val trace = tracer.nextId()
      tracer.add(0, trace, s"batch:${p.name}", s, e, id = trace)
      batchSpan((p.name, p.batchId)) = (trace, s, e)
      var at = s
      Probes.BatchPhases.foreach { ph =>
        val d = Probes.durationMs(p, ph)
        if (d > 0) { tracer.add(trace, trace, ph, at, at + d); at += d }
      }
    }
    val jobs = probes.jobs.asScala.toVector
    jobs.foreach { j =>
      for {
        qid <- j.streamQueryId; name <- ids.get(qid); b <- j.batchId
        (trace, _, _) <- batchSpan.get((name, b))
      } tracer.add(trace, trace, s"job:${j.jobId}", j.start, j.end)
    }
    // KV calls made on a query's stream thread hang under its batch
    val byQuery = batchSpan.toVector.groupBy(_._1._1)
    tracer.replaceAll(tracer.all.map { s =>
      if (s.parent != 0 || !s.owner.startsWith("stream execution thread for ")) s
      else {
        val q = s.owner.stripPrefix("stream execution thread for ").takeWhile(_ != ' ')
        byQuery.getOrElse(q, Vector.empty)
          .find { case (_, (_, bs, be)) => s.start >= bs && s.start <= be }
          .fold(s) { case (_, (trace, _, _)) => s.copy(parent = trace, trace = trace) }
      }
    })

    val inLive = (r: ProgressRec) => Probes.triggerStart(r.p) >= l0 && Probes.triggerStart(r.p) <= l1
    val liveB = all.filter(inLive)
    val liveData = liveB.filter(_.p.numInputRows > 0)
    val catchB = all.filter(r => Probes.triggerStart(r.p) <= c1 && r.p.numInputRows > 0)
    def ph(r: ProgressRec, name: String) = Probes.durationMs(r.p, name)
    def stateSum(r: ProgressRec)(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      r.p.stateOperators.map(f).sum.toDouble
    def meanMs(f: ProgressRec => Double) = Stats.mean(liveData.map(f))
    val trig = liveData.map(ph(_, "triggerExecution"))
    val trigSum = math.max(1.0, trig.sum)
    def frac(f: ProgressRec => Double) = liveData.map(f).sum / trigSum
    val last = all.groupBy(_.p.name).values.map(_.maxBy(_.p.batchId)).toVector
    // backlog: released events not yet read by the slowest query, sampled
    // at each progress report of the live phase
    val cum = scala.collection.mutable.Map.empty[String, Long]
    var backlogMax = 0.0
    all.sortBy(_.at).foreach { r =>
      cum(r.p.name) = cum.getOrElse(r.p.name, 0L) + r.p.numInputRows
      if (r.at >= l0 && r.at <= l1) {
        val releasedEv = backlogEvents + math.min(cfg.liveFiles.toDouble,
          math.floor((r.at - l0) / cfg.intervalMs) + 1) * eventsPerFile
        val slowest = EventQueries.map(cum.getOrElse(_, 0L)).min
        backlogMax = math.max(backlogMax, (releasedEv - slowest) / eventsPerFile)
      }
    }
    val liveJobs = jobs.filter(j => j.streamQueryId.isDefined && j.start >= l0 && j.end <= l1)
    val phases = Probes.BatchPhases.map(p => liveData.map(ph(_, p)).sum).sum
    Probes.session(liveJobs, probes.stages.asScala.toVector.map(s => s.stageId -> s).toMap,
        liveData.length, l1 - l0, cores, probes.failedTasks.get) ++ Map(
      "query.plan_ms" -> meanMs(ph(_, "queryPlanning")),
      "query.wall_ms_p50" -> Stats.pctOr(trig, 50, 0.0),
      "query.wall_ms_p90" -> Stats.pctOr(trig, 90, 0.0),
      "streaming.latest_offset_ms" -> meanMs(ph(_, "latestOffset")),
      "streaming.wal_commit_ms" -> meanMs(ph(_, "walCommit")),
      "streaming.add_batch_ms" -> meanMs(ph(_, "addBatch")),
      "streaming.commit_offsets_ms" -> meanMs(ph(_, "commitOffsets")),
      "streaming.state_commit_ms" -> meanMs(stateSum(_)(_.commitTimeMs)),
      "streaming.latest_offset_frac" -> frac(ph(_, "latestOffset")),
      "streaming.query_planning_frac" -> frac(ph(_, "queryPlanning")),
      "streaming.wal_commit_frac" -> frac(ph(_, "walCommit")),
      "streaming.add_batch_frac" -> frac(ph(_, "addBatch")),
      "streaming.commit_offsets_frac" -> frac(ph(_, "commitOffsets")),
      "streaming.state_commit_frac" -> frac(stateSum(_)(_.commitTimeMs)),
      "streaming.batches" -> liveData.length.toDouble,
      "streaming.empty_batch_frac" ->
        (if (liveB.isEmpty) 0.0 else 1.0 - liveData.length.toDouble / liveB.length),
      "streaming.catchup_add_batch_ms" -> Stats.mean(catchB.map(ph(_, "addBatch"))),
      "streaming.catchup_batches" -> catchB.length.toDouble,
      "streaming.input_rows" -> catchB.map(_.p.numInputRows.toDouble).sum,
      "streaming.state_rows" -> last.map(stateSum(_)(_.numRowsTotal)).sum,
      "streaming.state_memory_bytes" -> last.map(stateSum(_)(_.memoryUsedBytes)).sum,
      "streaming.dropped_by_watermark" -> all.map(stateSum(_)(_.numRowsDroppedByWatermark)).sum,
      "streaming.backlog_files_max" -> backlogMax,
      "trace.coverage" -> phases / trigSum)
  }

  private def kvLayers(stack: Stack, ws: WsClient, rest: RestClient): Map[String, Double] = {
    val (w, r, pubs) = (stack.jobsKv, stack.serveKv) match {
      case (j: TimingKvStore, s: TimingKvStore) => (j.writes, s.reads, j.publishes)
      case _ => (Nil, Nil, 0L)
    }
    Map(
      "KvSink.write_ms_p50" -> Stats.pctOr(w, 50, 0.0),
      "KvSink.write_ms_p99" -> Stats.pctOr(w, 99, 0.0),
      "KvSink.writes" -> w.length.toDouble, "KvSink.publishes" -> pubs.toDouble,
      "Resp.read_ms_p50" -> Stats.pctOr(r, 50, 0.0), "Resp.read_ms_p99" -> Stats.pctOr(r, 99, 0.0),
      "Resp.reads" -> r.length.toDouble,
      "Api.requests" -> rest.sent.get.toDouble, "Api.errors" -> rest.errors.get.toDouble,
      "WsPush.frames" -> ws.frames.get.toDouble,
      "WsPush.frames_per_publish" -> (if (pubs > 0) ws.frames.get.toDouble / pubs else 0.0),
      "WsPush.bytes" -> ws.bytes.get.toDouble)
  }
}
