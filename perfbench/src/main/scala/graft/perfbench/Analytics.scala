package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Graft, SparkEntry}

/** The `analytics_full` workload's JVM: runs the given `SparkEntry.queries`
  * (`--queries`, comma-separated, in the order to time them) once each on
  * the tables in `--warm` (untimed, several at once: plans compiled, JIT
  * warmed), writing every output to `--dump/<query>` for the DuckDB
  * oracle compare. Prints `SETUP_DONE`. Then, for each directory of
  * `--passes` (comma-separated copies of the same tables), runs every
  * query once on it, timed until every output column is materialized
  * (`write.format("noop")`). Memoized intermediates are keyed by session
  * and data directory, so each pass builds its memos again and each memo
  * build is billed to the query that triggers it.
  *
  * Writes per-query seconds, one a pass (-1 for a failed run; and, with
  * `--trace 1`, the first pass's per-query profile) to `--out` as JSON.
  */
object Analytics {
  def main(args: Array[String]): Unit = {
    val f = new Flags(args)
    val names = f("queries").split(",").toSeq
    val spark = Graft.session("perfbench-analytics")
    val queries = SparkEntry.queries
    val profiler = if (f.traced) Some(new QueryProfiler(spark)) else None

    val cpus = spark.sparkContext.defaultParallelism
    val dump = f("dump")
    parallel(names, cpus) { n =>
      try queries(n)(spark, f("warm")).coalesce(1).write.mode("overwrite").parquet(s"$dump/$n")
      catch { case e: Throwable => System.err.println(s"[analytics] warmup $n failed: ${e.getMessage}") }
    }
    val oracles = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    val json = oracles.toSeq.sortBy(_._1).map { case (n, sql) => s"${jstr(n)}:${jstr(sql)}" }
      .mkString("{", ",", "}")
    Files.write(Path.of(s"$dump/oracle_sql.json"), json.getBytes(UTF_8))
    System.gc()
    println("SETUP_DONE"); Console.out.flush()

    val passes = f("passes").split(",").toSeq.zipWithIndex.map { case (data, pass) =>
      val prof = profiler.filter(_ => pass == 0)
      val secs = names.map { n =>
        prof.foreach(_.begin(n))
        val memo0 = graft.operators.DocOps.memoBuildNanos
        val q0 = System.nanoTime()
        val err = try { queries(n)(spark, data).write.format("noop").mode("overwrite").save(); None }
          catch { case e: Throwable => Some(e) }
        val s = (System.nanoTime() - q0) / 1e9
        prof.foreach(_.end(n, s, (graft.operators.DocOps.memoBuildNanos - memo0) / 1e9))
        err.foreach(e => System.err.println(s"[analytics] $n failed: ${e.getMessage}"))
        if (err.isEmpty) s else -1.0
      }
      System.gc() // every pass starts from a collected heap
      secs
    }
    val busyMs = profiler.map(_.taskMs).getOrElse(0L)

    val out = new StringBuilder("{")
    out ++= names.indices.map(i => s"${jstr(names(i))}:${passes.map(_(i)).mkString("[", ",", "]")}")
      .mkString("\"seconds\":{", ",", "},")
    val totalS = passes.head.filter(_ >= 0).sum
    out ++= s""""cores":$cpus,"task_busy_ratio":${busyMs / 1000.0 / (totalS * cpus)},"""
    profiler.foreach(p => out ++= s""""profile":${p.json},""")
    out ++= JvmStats.json + "}"
    Files.write(Path.of(f("out")), out.toString.getBytes(UTF_8))
    JvmStats.exit()
  }

  /** Untimed work (the warmup) on `threads` threads at once. */
  private def parallel(names: Seq[String], threads: Int)(body: String => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try names.map(n => pool.submit(new Runnable { def run(): Unit = body(n) })).foreach(_.get())
    finally pool.shutdown()
  }

  private[perfbench] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

/** Per-query profile from outside the program: a SparkListener for jobs,
  * stages, tasks, shuffle, spill and GC (jobs are attributed through the
  * job group set around each query) and a QueryExecutionListener for the
  * planning phases and the final adaptive plan of every action the query
  * runs, memo builds included.
  */
final class QueryProfiler(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  final class Profile {
    var seconds = 0.0
    var memoS = 0.0
    var jobs = 0
    val stages = mutable.Set.empty[Int]
    var tasks = 0L
    var taskMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var gcMs = 0L
    var actions = 0
    val phasesMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var exchanges = 0
    var bhj = 0
    var shj = 0
    var smj = 0
  }

  val profiles = mutable.LinkedHashMap.empty[String, Profile]
  private val stageQuery = mutable.Map.empty[Int, String]
  @volatile private var current: String = null

  def begin(name: String): Unit = synchronized {
    profiles(name) = new Profile
    current = name
    spark.sparkContext.setJobGroup(s"perfbench:$name", name, interruptOnCancel = false)
  }

  def end(name: String, seconds: Double, memoS: Double): Unit = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    endLocked(name, seconds, memoS)
  }

  private def endLocked(name: String, seconds: Double, memoS: Double): Unit = synchronized {
    profiles(name).seconds = seconds
    profiles(name).memoS = memoS
    current = null
    spark.sparkContext.clearJobGroup()
  }

  def taskMs: Long = synchronized(profiles.values.map(_.taskMs).sum)

  private def profileOfJob(props: java.util.Properties): Option[Profile] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("perfbench:")).flatMap(g => profiles.get(g.stripPrefix("perfbench:")))

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = QueryProfiler.this.synchronized {
      profileOfJob(e.properties).foreach { p =>
        p.jobs += 1
        val name = e.properties.getProperty("spark.jobGroup.id").stripPrefix("perfbench:")
        e.stageIds.foreach(s => stageQuery(s) = name)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = QueryProfiler.this.synchronized {
      stageQuery.get(e.stageInfo.stageId).flatMap(profiles.get).foreach(_.stages += e.stageInfo.stageId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = QueryProfiler.this.synchronized {
      stageQuery.get(e.stageId).flatMap(profiles.get).foreach { p =>
        p.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          p.taskMs += m.executorRunTime
          p.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          p.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          p.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          p.gcMs += m.jvmGCTime
        }
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  })

  private def record(qe: QueryExecution): Unit = QueryProfiler.this.synchronized {
    Option(current).flatMap(profiles.get).foreach { p =>
      p.actions += 1
      qe.tracker.phases.foreach { case (phase, s) => p.phasesMs(phase) += s.durationMs }
      val plan: SparkPlan = qe.executedPlan
      p.exchanges += collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size
      p.bhj += collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }.size
      p.shj += collectWithSubqueries(plan) { case j: ShuffledHashJoinExec => j }.size
      p.smj += collectWithSubqueries(plan) { case j: SortMergeJoinExec => j }.size
    }
  }

  def json: String = synchronized {
    profiles.map { case (n, p) =>
      val phases = Seq("analysis", "optimization", "planning")
        .map(ph => s""""${ph}_ms":${p.phasesMs(ph)}""").mkString(",")
      s"""${Analytics.jstr(n)}:{"seconds":${p.seconds},"memo_build_s":${p.memoS},$phases,""" +
        s""""actions":${p.actions},"jobs":${p.jobs},"stages":${p.stages.size},"tasks":${p.tasks},""" +
        s""""task_ms":${p.taskMs},"shuffle_read_bytes":${p.shuffleRead},""" +
        s""""shuffle_write_bytes":${p.shuffleWrite},"spill_bytes":${p.spill},"gc_ms":${p.gcMs},""" +
        s""""exchanges":${p.exchanges},"bhj":${p.bhj},"shj":${p.shj},"smj":${p.smj}}"""
    }.mkString("{", ",", "}")
  }
}
