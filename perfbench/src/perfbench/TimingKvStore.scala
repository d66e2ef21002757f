package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.streaming.KvStore

/** A [[KvStore]] decorator that times every call and otherwise passes it
  * straight through: same arguments, same results, same publishes.
  *
  * Writes (`writeHash`, `writeJson`, `pushToList`) and reads (`readHash`,
  * `readJson`, `readList`) are timed separately; a write that names a
  * channel is counted as a publish. With a tracer attached each call also
  * becomes a span named `<layer>.<method>`. The decorator sits outside the
  * program: the jobs and the serving layer are handed a wrapped store, and
  * nothing inside them changes.
  */
final class TimingKvStore(underlying: KvStore, layer: String,
    tracer: Option[Tracer] = None) extends KvStore {

  @transient private lazy val writeMs = new ConcurrentLinkedQueue[java.lang.Double]()
  @transient private lazy val readMs = new ConcurrentLinkedQueue[java.lang.Double]()
  @transient private lazy val publishCount = new AtomicLong(0)

  def writes: Seq[Double] = writeMs.asScala.map(_.doubleValue).toVector
  def reads: Seq[Double] = readMs.asScala.map(_.doubleValue).toVector
  def publishes: Long = publishCount.get()

  private def timed[T](into: ConcurrentLinkedQueue[java.lang.Double], method: String)(
      body: => T): T = {
    val t0 = Tracer.nowMs()
    try body
    finally {
      val t1 = Tracer.nowMs()
      into.add(t1 - t0)
      tracer.foreach(_.add(0, 0, s"$layer.$method", t0, t1,
        owner = Thread.currentThread.getName))
    }
  }

  private def published(channel: Option[String]): Unit =
    if (channel.isDefined) publishCount.incrementAndGet()

  def writeHash(key: String, value: Map[String, String], ttlSeconds: Option[Int],
      channel: Option[String]): Unit = {
    timed(writeMs, "writeHash")(underlying.writeHash(key, value, ttlSeconds, channel))
    published(channel)
  }

  def writeJson(key: String, json: String, channel: Option[String]): Unit = {
    timed(writeMs, "writeJson")(underlying.writeJson(key, json, channel))
    published(channel)
  }

  def pushToList(key: String, json: String, maxLen: Int, channel: Option[String]): Unit = {
    timed(writeMs, "pushToList")(underlying.pushToList(key, json, maxLen, channel))
    published(channel)
  }

  def readHash(key: String): Map[String, String] =
    timed(readMs, "readHash")(underlying.readHash(key))

  override def readJson(key: String): Option[String] =
    timed(readMs, "readJson")(underlying.readJson(key))

  override def readList(key: String, n: Int): List[String] =
    timed(readMs, "readList")(underlying.readList(key, n))

  override def subscribe(channels: Seq[String])(
      handler: (String, String) => Unit): java.io.Closeable =
    underlying.subscribe(channels)(handler)
}
