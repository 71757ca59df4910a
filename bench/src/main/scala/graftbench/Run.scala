package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.GraftBenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.sources.Sinks

/** One benchmark run in one JVM, driven by `bench/run.py`.
  *
  * Arguments are `key=value` pairs:
  *  - `launched_ms`: wall clock, in epoch ms, at which the caller started
  *    this JVM, so `setup_s` covers JVM launch to session ready;
  *  - `cpus`, `sf` (input dir), `work` (this run's scratch dir), `out`
  *    (result file);
  *  - `ops`: the workload's operations in submission order, each a
  *    `SparkEntry.queries` name or `csv:<query>` for `Sinks.writeFinalCsv`
  *    of that query;
  *  - `seconds`: length of the warm phase: warm passes start until
  *    `seconds` have passed since it began; `min_warm` run in any case;
  *  - `trace`: 1 registers the listeners below on the cold pass and the
  *    even warm passes, and leaves the odd ones untraced, so that the
  *    result carries both.
  *
  * Pass 0 is cold: nothing runs untimed before it, and it writes every
  * result under `work/check`, next to the SQL oracles of the workload's
  * queries in `oracle_sql.json`, for `bench/oracle.py` to compare.
  */
object Run {
  def nowMs(): Double = {
    val i = Instant.now()
    i.getEpochSecond * 1e3 + i.getNano / 1e6
  }

  /** The session settings of `graft.Bench`: each of them changes plans. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      // keep every file Spark writes inside this run's scratch dir
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val work = opt("work")
    val spark = session(opt("cpus").toInt, work)
    val setupS = (nowMs() - opt("launched_ms").toDouble) / 1e3
    val result = new Workload(spark, opt).run(setupS)
    Files.write(Paths.get(opt("out")), result.text.getBytes(UTF_8))
    spark.stop()
  }
}

/** A span: one timed interval at a layer boundary. `parent` is the id of
  * the span that caused it (-1 for an operation, the root of a pass). */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    pass: Int, start: Double, end: Double)

final class Workload(spark: SparkSession, opt: Map[String, String]) {
  import Run.{nowMs => now}

  private val sf = opt("sf")
  private val work = opt("work")
  private val ops = opt("ops").split(",").toSeq
  private val traced = opt("trace") == "1"
  private val tmpdir = new File(System.getProperty("java.io.tmpdir")).getCanonicalPath
  private val csvOut = s"$work/sink"
  private val accumErrors = AccumulatorErrors.install()
  private val listener = new Listener(tmpdir)

  private val spans = ArrayBuffer.empty[Span]
  private val errors = ArrayBuffer.empty[(Int, String, String)]
  private val built = ArrayBuffer.empty[(Int, String, Int)]
  private var tracing = false
  private var attempted = 0

  private def span[T](parent: Int, kind: String, name: String, pass: Int)(
      body: => T): T = {
    val id = spans.length
    spans += Span(id, parent, kind, name, pass, now(), Double.NaN)
    val v = body
    spans(id) = spans(id).copy(end = now())
    v
  }

  private def build(op: String): DataFrame = {
    val q = op.stripPrefix("csv:")
    SparkEntry.queries(q)(spark, sf)
  }

  private def cleanup(): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  private def artifacts(): Set[String] =
    Option(new File(tmpdir).list()).toSet.flatten
      .filter(n => n.startsWith("graft_") && !n.contains(".tmp"))

  /** One operation: build the query, then materialize it, then drop what
    * it cached. The cold pass writes each result under `work/check` for
    * the oracle comparison; the warm passes use a `noop` write. */
  private def runOp(pass: Int, op: String): Unit = {
    attempted += 1
    listener.current = (pass, op)
    val before = if (tracing) artifacts() else Set.empty[String]
    val out = if (pass == 0) s"$work/check/${op.replace(':', '_')}" else csvOut
    val id = spans.length
    span(-1, "op", op, pass) {
      try {
        val df = span(id, "build", op, pass)(build(op))
        // the DataFrame is analyzed while it is built, outside the
        // execution the QueryExecutionListener reports
        if (tracing) listener.analyzed(df.queryExecution)
        if (op.startsWith("csv:"))
          span(id, "sink", op, pass)(Sinks.writeFinalCsv(df, out))
        else if (pass == 0)
          span(id, "write", op, pass)(df.write.parquet(out))
        else span(id, "write", op, pass)(
          df.write.format("noop").mode("overwrite").save())
      } catch { case e: Throwable =>
        errors += ((pass, op, String.valueOf(e.getMessage).take(500)))
      }
      span(id, "cleanup", op, pass)(cleanup())
    }
    if (tracing) {
      GraftBenchAccess.drainListeners(spark.sparkContext)
      built += ((pass, op, (artifacts() -- before).size))
    }
  }

  private def setTracing(on: Boolean): Unit = if (on != tracing) {
    GraftBenchAccess.drainListeners(spark.sparkContext)
    if (on) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
    } else {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(listener)
    }
    tracing = on
  }

  private def runPass(pass: Int): (Double, Boolean) = {
    setTracing(traced && pass % 2 == 0)
    val t0 = now()
    ops.foreach(runOp(pass, _))
    (now() - t0, tracing)
  }

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum

  private def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  private def writeOracles(): Unit = {
    val queries = ops.filterNot(_.startsWith("csv:")).toSet
    Files.write(Paths.get(s"$work/check/oracle_sql.json"), Json.obj(
      SparkEntry.oracleSql.toSeq.filter(kv => queries(kv._1)).sortBy(_._1)
        : _*).text.getBytes(UTF_8))
  }

  def run(setupS: Double): Json.Raw = {
    val passes = ArrayBuffer(runPass(0))
    val deadline = now() + opt("seconds").toDouble * 1e3
    val minWarm = opt("min_warm").toInt
    while (passes.length <= minWarm || now() < deadline)
      passes += runPass(passes.length)
    setTracing(false)
    val peakRss = peakRssKb()
    val artifactBytes = dirBytes(new File(tmpdir))
    writeOracles()
    Json.obj(
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakRss / 1024.0,
      "artifact_mb" -> artifactBytes / 1048576.0,
      "csv_mb" -> dirBytes(new File(csvOut)) / 1048576.0,
      "attempted" -> attempted,
      "passes" -> passes.zipWithIndex.map { case ((wall, tr), i) =>
        Json.obj("pass" -> i, "wall_ms" -> wall, "traced" -> tr) },
      "spans" -> spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "pass" -> s.pass,
        "start" -> s.start, "end" -> s.end)),
      "errors" -> errors.map { case (p, op, e) =>
        Json.obj("pass" -> p, "op" -> op, "error" -> e) },
      "artifacts_built" -> built.map { case (p, op, n) =>
        Json.obj("pass" -> p, "op" -> op, "built" -> n) },
      "accum_errors" -> accumErrors.times,
      "jobs" -> listener.jobs,
      "stages" -> listener.stages,
      "queries" -> listener.qes)
  }
}

/** Counts the DAGScheduler's "Failed to update accumulator" events and
  * keeps them out of the log, as `graft.Bench` does. */
final class AccumulatorErrors {
  private val seen = ArrayBuffer.empty[Double]
  def add(t: Double): Unit = synchronized { seen += t }
  def times: Seq[Double] = synchronized { seen.toSeq }
}

object AccumulatorErrors {
  def install(): AccumulatorErrors = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.config.LoggerConfig
    import org.apache.logging.log4j.core.filter.AbstractFilter
    val counter = new AccumulatorErrors
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val conf = ctx.getConfiguration
    val name = "org.apache.spark.scheduler.DAGScheduler"
    val lc = {
      val existing = conf.getLoggerConfig(name)
      if (existing.getName == name) existing
      else {
        val fresh = new LoggerConfig(name, null, true)
        conf.addLogger(name, fresh)
        fresh
      }
    }
    lc.addFilter(new AbstractFilter() {
      override def filter(event: LogEvent): Filter.Result = {
        val m = event.getMessage
        val s = if (m == null) null else m.getFormattedMessage
        if (s != null && s.contains("Failed to update accumulator")) {
          counter.add(event.getTimeMillis.toDouble)
          Filter.Result.DENY
        } else Filter.Result.NEUTRAL
      }
    })
    ctx.updateLoggers()
    counter
  }
}

/** The traced run's `SparkListener` and `QueryExecutionListener`: job
  * intervals, per-stage task metrics, and per-execution Catalyst phase
  * times and scans of standing artifacts under `tmpdir`. */
final class Listener(tmpdir: String)
    extends SparkListener with QueryExecutionListener {
  @volatile var current: (Int, String) = (-1, "")
  private val jobStart = mutable.Map.empty[Int, Long]
  private val maxTask = mutable.Map.empty[(Int, Int), Long]
  private val jobRecs = ArrayBuffer.empty[Json.Raw]
  private val stageRecs = ArrayBuffer.empty[Json.Raw]
  private val qeRecs = ArrayBuffer.empty[Json.Raw]

  def jobs: Seq[Json.Raw] = synchronized { jobRecs.toSeq }
  def stages: Seq[Json.Raw] = synchronized { stageRecs.toSeq }
  def qes: Seq[Json.Raw] = synchronized { qeRecs.toSeq }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { s =>
      jobRecs += Json.obj("id" -> e.jobId, "start" -> s.toDouble,
        "end" -> e.time.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val k = (e.stageId, e.stageAttemptId)
    maxTask(k) = math.max(maxTask.getOrElse(k, 0L), e.taskInfo.duration)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val longest = maxTask.remove((i.stageId, i.attemptNumber())).getOrElse(0L)
      if (m != null) stageRecs += Json.obj(
        "id" -> i.stageId,
        "submitted" -> i.submissionTime.getOrElse(0L).toDouble,
        "completed" -> i.completionTime.getOrElse(0L).toDouble,
        "tasks" -> i.numTasks,
        "run_ms" -> m.executorRunTime,
        "cpu_ms" -> m.executorCpuTime / 1e6,
        "gc_ms" -> m.jvmGCTime,
        "input_bytes" -> m.inputMetrics.bytesRead,
        "input_rows" -> m.inputMetrics.recordsRead,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "spill_bytes" -> m.diskBytesSpilled,
        "max_task_ms" -> longest)
    }

  private def ms(qe: QueryExecution, phase: String): Long =
    qe.tracker.phases.get(phase).map(_.durationMs).getOrElse(0L)

  def analyzed(qe: QueryExecution): Unit = {
    val (pass, op) = current
    val rec = Json.obj("pass" -> pass, "op" -> op,
      "analysis_ms" -> ms(qe, "analysis"), "optimize_ms" -> 0,
      "plan_ms" -> 0, "artifact_scans" -> 0)
    synchronized { qeRecs += rec }
  }

  private def record(qe: QueryExecution): Unit = {
    val (pass, op) = current
    val roots = try qe.optimizedPlan.collectWithSubqueries {
      case l: LogicalRelation => l.relation
    }.collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.toString) }
      .flatten catch { case _: Throwable => Seq.empty }
    val rec = Json.obj("pass" -> pass, "op" -> op,
      "analysis_ms" -> ms(qe, "analysis"),
      "optimize_ms" -> ms(qe, "optimization"), "plan_ms" -> ms(qe, "planning"),
      "artifact_scans" -> roots.count(_.contains(tmpdir)))
    synchronized { qeRecs += rec }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)
}

/** Just enough JSON writing for the result file. */
object Json {
  final case class Raw(text: String)

  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(String.valueOf(other))
  }

  def obj(kvs: (String, Any)*): Raw =
    Raw(kvs.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}"))
}
