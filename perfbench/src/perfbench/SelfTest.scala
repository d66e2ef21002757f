package perfbench

import graft.streaming.{InMemoryKvStore, Keys}

/** The harness's own tests, with no test framework: each check prints
  * PASS or FAIL and the process exits non-zero if any failed.
  *
  * Run with `python3 perfbench/run.py --self-test`.
  */
object SelfTest {

  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => println(s"  ($e)"); false }
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    percentiles()
    selfTimes()
    kvTransparency()
    println(if (failures == 0) "all passed" else s"$failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  def percentiles(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    check("nearest-rank p50 of 1..100 is 50")(Stats.pct(xs, 50) == 50.0)
    check("nearest-rank p90 of 1..100 is 90")(Stats.pct(xs, 90) == 90.0)
    check("p100 is the maximum, p0 the minimum")(Stats.pct(xs, 100) == 100.0 && Stats.pct(xs, 0) == 1.0)
    check("percentile ignores input order")(Stats.pct(xs.reverse, 90) == 90.0)
    // 100 samples: p90 leaves exactly 10 beyond it, p95 only 5.
    check("tail of 100 samples is p90 with 10 beyond")(
      Stats.tail(xs).contains(Stats.Tail(90.0, 90.0, 100, 10)))
    // 1000 samples: p99 leaves 10 beyond.
    check("tail of 1000 samples is p99")(
      Stats.tail((1 to 1000).map(_.toDouble)).map(_.percentile).contains(99.0))
    check("tail of 99 samples falls back to p75")(
      Stats.tail((1 to 99).map(_.toDouble)).map(_.percentile).contains(75.0))
    check("tail of 19 samples has none with 10 beyond")(
      Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    check("tail of 20 samples is p50 with 10 beyond")(
      Stats.tail((1 to 20).map(_.toDouble)).contains(Stats.Tail(50.0, 10.0, 20, 10)))
  }

  def selfTimes(): Unit = {
    val parent = Span(1, 0, 1, "query", 0, 100)
    val build = Span(2, 1, 1, "build", 0, 10)
    val exec = Span(3, 1, 1, "execute", 20, 100)
    val job1 = Span(4, 3, 1, "job", 30, 60)
    val job2 = Span(5, 3, 1, "job", 50, 90) // overlaps job1
    val late = Span(6, 3, 1, "job", 95, 120) // overruns its parent
    val self = Tracer.selfTimes(Seq(parent, build, exec, job1, job2, late))
    check("self = duration - children")(close(self(1), 100 - 10 - 80))
    check("overlapping children count once")(close(self(3), 80 - (60 + 5)))
    check("leaf self = duration")(close(self(4), 30) && close(self(6), 25))
    check("union of disjoint and nested intervals")(
      close(Tracer.union(Seq((0.0, 1.0), (2.0, 5.0), (3.0, 4.0), (4.5, 6.0))), 5.0))
    val tree = Seq(Span(1, 0, 1, "root", 0, 100), Span(2, 1, 1, "a", 0, 40),
      Span(3, 1, 1, "b", 50, 100), Span(4, 3, 1, "c", 60, 70))
    check("self times of a properly nested tree sum to the root's duration")(
      close(Tracer.selfTimes(tree).values.sum, 100.0))
  }

  def kvTransparency(): Unit = {
    val plain = new InMemoryKvStore
    val inner = new InMemoryKvStore
    val timed = new TimingKvStore(inner, "KvSink", Some(new Tracer))
    val seenPlain = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val seenTimed = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    plain.subscribe(Seq(Keys.ChannelKpi, Keys.ChannelActivity))((c, p) => seenPlain.add(c -> p))
    timed.subscribe(Seq(Keys.ChannelKpi, Keys.ChannelActivity))((c, p) => seenTimed.add(c -> p))
    def script(kv: graft.streaming.KvStore): Seq[Any] = {
      kv.writeHash(Keys.KpiCurrent, Map("orders" -> "3", "revenue" -> "1.5"),
        channel = Some(Keys.ChannelKpi))
      kv.writeHash(Keys.kpiSnapshot(1), Map("orders" -> "2"), ttlSeconds = Some(7200))
      kv.writeJson(Keys.PlatformBreakdown, """[{"name":"ios","value":1}]""",
        channel = Some(Keys.ChannelPlatform))
      (1 to 20).foreach(i => kv.pushToList(Keys.ActivityFeed, s"""{"id":"evt_$i"}""", 15,
        channel = Some(Keys.ChannelActivity)))
      Seq(kv.readHash(Keys.KpiCurrent), kv.readHash("missing"),
        kv.readJson(Keys.PlatformBreakdown), kv.readJson("missing"),
        kv.readList(Keys.ActivityFeed, 15), kv.readList(Keys.ActivityFeed, 3))
    }
    val a = script(plain)
    val b = script(timed)
    check("decorator returns what the wrapped store returns")(a == b)
    check("same hashes")(plain.hashes == inner.hashes)
    check("same strings")(plain.strings == inner.strings)
    check("same lists")(plain.lists == inner.lists)
    check("same publishes")(plain.published == inner.published)
    check("subscribers see the same messages")(
      seenPlain.toArray.toSeq == seenTimed.toArray.toSeq && seenPlain.size == 21)
    check("writes, reads and publishes are counted")(
      timed.writes.length == 23 && timed.reads.length == 6 && timed.publishes == 22)
  }
}
