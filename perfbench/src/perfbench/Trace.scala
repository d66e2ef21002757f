package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval of the traced run. Times are epoch milliseconds
  * (fractional), so spans from harness timers and from Spark listener
  * events (which carry epoch-ms timestamps) share one clock. `parent` is 0
  * for a root; `trace` groups the spans of one query or micro-batch. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    start: Double, end: Double, owner: String = "") {
  def dur: Double = end - start
}

/** In-memory span recorder. Nothing is written until [[write]], after the
  * measured phase, so recording costs one object and one queue insert. */
final class Tracer {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def add(parent: Long, trace: Long, name: String, start: Double, end: Double,
      id: Long = 0, owner: String = ""): Long = {
    val sid = if (id == 0) nextId() else id
    spans.add(Span(sid, parent, trace, name, start, end, owner))
    sid
  }

  /** Replaces the recorded spans (used once the tree has been linked). */
  def replaceAll(xs: Seq[Span]): Unit = { spans.clear(); xs.foreach(spans.add) }

  def all: Seq[Span] = spans.asScala.toVector

  /** Writes every span with its self time as one JSON array. */
  def write(path: java.nio.file.Path): Unit = {
    val xs = all
    val self = Tracer.selfTimes(xs)
    val body = xs.sortBy(s => (s.trace, s.start)).map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> self(s.id))
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.write(path, body.getBytes("UTF-8"))
  }
}

object Tracer {

  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nanos0 = System.nanoTime()

  /** Epoch milliseconds with sub-millisecond resolution, monotonic. */
  def nowMs(): Double = epochMs0 + (System.nanoTime() - nanos0) / 1e6

  /** Self time of each span: its duration minus the part of it covered by
    * the union of its children's intervals (children may run in parallel
    * and may overrun the parent; only the overlap with the parent counts).
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a })
      s.id -> math.max(0.0, s.dur - covered)
    }.toMap
  }

  /** Total length of a set of intervals, overlaps counted once. */
  def union(xs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    xs.sortBy(_._1).foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Minimal JSON rendering for the result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
