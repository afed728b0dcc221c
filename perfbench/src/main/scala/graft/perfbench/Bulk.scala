package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.Graft
import graft.engine.TopicStore
import graft.streaming.StreamingTopic

/** The `bulk_ingest` workload's JVM: one fresh JVM's bulk job over the
  * keyed 1 KiB records run.py staged as parquet in `--stage` (each key in
  * one file, so the file stream keeps per-key order), on a store under
  * `--root`: `TopicStore.produce` of the whole stage, an unbounded
  * `poll(...).count()` drain, and `StreamingTopic.ingest` of the stage as
  * a file stream, [[FilesPerBatch]] file a micro-batch. Both topics are
  * then read back with fresh groups and checked (untimed).
  *
  * Prints `SETUP_DONE` once the session is up; writes the job's figures
  * and checks to `--out` as JSON.
  */
object Bulk {
  val FilesPerBatch = 1

  def main(args: Array[String]): Unit = {
    val f = new Flags(args)
    val spark = Graft.session("perfbench-bulk")
    val tracer = if (f.traced) Some(new Tracer) else None
    def store(dir: String): TopicStore =
      tracer.fold(new TopicStore(spark, dir))(t => new TracingStore(spark, dir, t))

    val n = f("records").toLong
    val stream = new StreamListener
    if (f.traced) spark.streams.addListener(stream)
    println("SETUP_DONE"); Console.out.flush()

    val dir = f("root")
    val result = cycle(spark, store(dir), f("stage"), n, tracer)
    val layout = if (f.traced) "," + storeLayout(dir, n) else ""
    tracer.foreach(_.write(f("spans")))
    val out = result.dropRight(1) + layout +
      s""","stream_batches":${stream.batches},"stream_add_batch_ms":${stream.addBatchMs.asScala.mkString("[", ",", "]")},""" +
      s""""stream_wal_commit_ms":${stream.walCommitMs.asScala.mkString("[", ",", "]")},""" + JvmStats.json + "}"
    Files.write(Path.of(f("out")), out.getBytes(UTF_8))
    JvmStats.exit()
  }

  /** The produce / drain / stream cycle and its read-back checks, as JSON. */
  private def cycle(
      spark: SparkSession, store: TopicStore, stageDir: String, n: Long,
      tracer: Option[Tracer]): String = {
    val staged = spark.read.parquet(stageDir)
    val t0 = System.nanoTime()
    store.produce("bulk", staged)
    val produceS = (System.nanoTime() - t0) / 1e9

    store.registry.register("drain", "c", Seq("bulk"), store.StartFrom.Earliest)
    val t1 = System.nanoTime()
    val drained = store.poll("drain", "bulk", "c").count()
    val t2 = System.nanoTime()
    tracer.foreach(_.add("poll_bulk", "bulk", t1, t2, drained))
    val pollS = (t2 - t1) / 1e9

    val src = spark.readStream.schema(staged.schema).option("maxFilesPerTrigger", FilesPerBatch).parquet(stageDir)
    val t3 = System.nanoTime()
    val q = new StreamingTopic(store).ingest("bulk_stream", src, s"${store.root}/_chk")
    try q.processAllAvailable() finally q.stop()
    val streamS = (System.nanoTime() - t3) / 1e9
    val batchMs = q.recentProgress.filter(_.numInputRows > 0)
      .map(_.durationMs.get("triggerExecution").longValue())

    val checks = Seq("bulk", "bulk_stream").map(t => t -> readBack(store, t, n))
    val failed = checks.map(_._2._2).sum
    s"""{"produce_s":$produceS,"poll_s":$pollS,"drained":$drained,"stream_s":$streamS,""" +
      s""""batch_ms":${batchMs.mkString("[", ",", "]")},"checked":${checks.map(_._2._1).sum},""" +
      s""""failed":$failed,"problems":${checks.map { case (t, c) => Analytics.jstr(s"$t: ${c._3}") }
        .mkString("[", ",", "]")}}"""
  }

  /** Reads a topic back with a fresh group and checks that each of the `n`
    * staged records is there exactly once, that offsets are contiguous
    * from 0 in every partition, and that each key's records sit in `seq`
    * order. Returns (records checked, records failing, description).
    */
  private def readBack(store: TopicStore, topic: String, n: Long): (Long, Long, String) = {
    val group = s"check-$topic-${System.nanoTime()}"
    store.registry.register(group, "v", Seq(topic), store.StartFrom.Earliest)
    val rows = store.poll(group, topic, "v", autoCommit = false)
      .select(col("key"), col("version"), col("part"), col("offset"),
        get_json_object(col("value").cast("string"), "$.seq").cast("long").as("seq"))
      .collect().map(r => (r.getString(0), (r.getInt(1), r.getInt(2)), r.getLong(3), r.getLong(4)))
    val seen = rows.groupBy(_._4).view.mapValues(_.length).toMap
    val missing = (0L until n).count(i => !seen.contains(i))
    val extra = rows.length - seen.size + seen.keys.count(i => i < 0 || i >= n)
    val byPart = rows.groupBy(_._2).values.map(_.sortBy(_._3))
    val gaps = byPart.count(rs => rs.map(_._3).toSeq != (0L until rs.length.toLong))
    val outOfOrder = byPart.iterator.flatMap(_.groupBy(_._1).values)
      .map(rs => rs.iterator.sliding(2).count { case Seq(a, b) => a._4 >= b._4; case _ => false }).sum
    val desc = s"${rows.length} read, $missing of $n missing, $extra duplicated or unknown, " +
      s"$gaps partitions with offset gaps, $outOfOrder out of key order"
    (n, missing + extra + gaps + outOfOrder, desc)
  }

  /** Data files and bytes the store holds per user byte, for the trace. */
  private def storeLayout(dir: String, n: Long): String = {
    val files = Files.walk(Path.of(dir, "data")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
    val bytes = files.map(Files.size).sum
    s""""data_files":${files.size},"data_bytes":$bytes,"user_bytes":${2 * n * 1024}"""
  }
}

/** Micro-batch figures of every streaming query in the JVM. */
final class StreamListener extends StreamingQueryListener {
  @volatile var batches = 0
  val addBatchMs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  val walCommitMs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0) {
      batches += 1
      Option(e.progress.durationMs.get("addBatch")).foreach(v => addBatchMs.add(v.longValue()))
      Option(e.progress.durationMs.get("walCommit")).foreach(v => walCommitMs.add(v.longValue()))
    }
}
