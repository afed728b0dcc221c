package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.{CompletableFuture, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.TopicStore
import graft.serving.ProduceChannel

/** In-memory span log of one traced run. A span is one call through a
  * module's public entry point: name, the request or consumer it belongs
  * to, start and end (System.nanoTime) and a count (records, rows). Spans
  * stay in memory and are written once, when the run ends, as
  * tab-separated lines that run.py reads.
  */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[String]()

  def add(name: String, id: String, t0: Long, t1: Long, n: Long): Unit = {
    spans.add(s"$name\t$id\t$t0\t$t1\t$n"); ()
  }

  def timed[T](name: String, id: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    add(name, id, t0, System.nanoTime(), out match { case n: Long => n; case _ => 0L })
    out
  }

  def write(path: String): Unit = {
    Files.write(Path.of(path), spans.asScala.mkString("", "\n", "\n").getBytes(UTF_8)); ()
  }
}

object Tracer {
  private val IdPrefix = "{\"id\":\"".getBytes(UTF_8)

  /** The request id a serving record carries in its body, as the
    * generators write it: `{"id":"<request>.<index>",...}`. Empty when
    * the body has another shape.
    */
  def requestId(body: Array[Byte]): String = {
    val prefix = Tracer.IdPrefix
    var i = prefix.length
    while (i < body.length && body(i) != '.' && body(i) != '"') i += 1
    if (body.length > prefix.length && prefix.indices.forall(j => body(j) == prefix(j)))
      new String(body, prefix.length, i - prefix.length, UTF_8)
    else ""
  }
}

/** The serving layer's produce front as the trace sees it: every submit
  * from the REST or binary server, from the call to the durable ack, keyed
  * by the request id in its first record.
  */
final class TracingChannel(inner: ProduceChannel, tracer: Tracer) extends ProduceChannel {
  override def submit(
      topic: String,
      key: String,
      tsMicros: Long,
      lines: Seq[Array[Byte]]): CompletableFuture[java.lang.Boolean] = {
    val t0 = System.nanoTime()
    val id = lines.headOption.map(Tracer.requestId).getOrElse("")
    val ack = inner.submit(topic, key, tsMicros, lines)
    ack.whenComplete((_, _) => tracer.add("channel", id, t0, System.nanoTime(), lines.size.toLong))
    ack
  }
}

/** The engine layer's public entry points, each wrapped in a span. A
  * flush span lists the request ids of the records it wrote, which links
  * it to the channel spans of the requests it acks. Bounded polls are
  * served in the calling JVM, so the poll span covers the page read too.
  */
final class TracingStore(spark: SparkSession, root: String, tracer: Tracer)
    extends TopicStore(spark, root) {

  override def produceLocal(topic: String, rows: Seq[TopicStore.LocalRecord]): Long = {
    val t0 = System.nanoTime()
    val n = super.produceLocal(topic, rows)
    val ids = rows.iterator.map(r => Tracer.requestId(r.value)).filter(_.nonEmpty)
      .toSeq.distinct.mkString(",")
    tracer.add("produce_local", ids, t0, System.nanoTime(), rows.size.toLong)
    n
  }

  override def produce(topic: String, records: DataFrame): Long =
    tracer.timed("produce", topic)(super.produce(topic, records))

  override def produceOnce(topic: String, records: DataFrame, streamId: String, batchId: Long): Long =
    tracer.timed("produce_once", topic)(
      super.produceOnce(topic, records, streamId, batchId))

  override def poll(
      group: String,
      topic: String,
      consumerId: String,
      maxRecords: Long,
      maxBytes: Long,
      autoCommit: Boolean): DataFrame =
    tracer.timed("poll", consumerId)(
      super.poll(group, topic, consumerId, maxRecords, maxBytes, autoCommit))

  override def commit(
      group: String,
      topic: String,
      next: Map[Int, Long],
      origin: String,
      version: Int): Map[Int, Long] =
    tracer.timed("commit", origin)(super.commit(group, topic, next, origin, version))
}

/** JVM-wide figures every bench JVM reports at exit. */
object JvmStats {
  /** Ends a bench JVM once its results are written. Spark's shutdown
    * (context stop, temp-dir cleanup) is skipped: run.py deletes the
    * run's whole root, and the seconds it would take are not measured.
    */
  def exit(): Unit = Runtime.getRuntime.halt(0)

  def json: String = {
    import java.lang.management.{ManagementFactory, MemoryType}
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    s""""jvm_gc_ms":$gcMs,"jvm_heap_peak_mb":${heapPeak / (1024.0 * 1024.0)}"""
  }
}

/** `--name value` flags of the bench mains. */
final class Flags(args: Array[String]) {
  private val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
  require(m.size * 2 == args.length, s"expected --flag value pairs: ${args.mkString(" ")}")
  def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  def get(k: String): Option[String] = m.get(k)
  def traced: Boolean = m.get("trace").contains("1")
}
