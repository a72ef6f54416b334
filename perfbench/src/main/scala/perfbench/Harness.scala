package perfbench

import graft.SparkEntry
import graft.analyze.{Compiler, TypeProbe}
import graft.core.Project
import graft.exec.{Runner, Runners}
import graft.parse.YamlLoader
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import java.io.{File, PrintWriter}
import scala.collection.mutable
import scala.util.control.NonFatal

/** The benchmark's JVM side: runs one workload as a closed loop with a
  * single client, timing calls into the engine's public entry points from
  * outside, and writes every sample as one JSON object per line.
  *
  * Arguments are `key=value` pairs:
  *   workload  elt | mix
  *   data      input directory of `<table>.parquet` files or directories
  *   work      scratch directory for outputs, Spark local files and results
  *   warmup    passes after the cold pass that are run but not measured
  *   seconds   measured time after the warm-up, in whole passes (see Loop)
  *   trace     1 adds the Spark listeners and tags jobs with their span
  *   project   (elt) YAML project directory
  *   queries   (mix) comma-separated SparkEntry query names, in pass order
  *   oracle    SparkEntry.oracleSql keys whose SQL is written out
  *   result    output path of the JSON-lines record
  *
  * Records: `span` (name, id, parent, pass, start/end epoch ms), `pass`,
  * `job` and `query` (traced passes only), `blocks`, `check`, `oracle`,
  * `meta` and `error`. The first pass in the JVM is the cold pass
  * (pass 0); on the mix it writes every result as parquet under
  * `work/results` for the oracle check, later passes write to the `noop`
  * sink.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val opts = args.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val work = opts("work")
    val out = new Out(opts("result"))
    val rec = new Recorder(out, opts.getOrElse("trace", "0") == "1")
    try {
      val t0 = rec.now()
      val spark = session(work)
      rec.emit("meta", "name" -> "session_s", "value" -> (rec.now() - t0) / 1000.0)
      if (rec.trace) rec.install(spark)
      val loop = new Loop(spark, rec, opts("seconds").toDouble, opts("warmup").toInt)
      opts("workload") match {
        case "elt" => loop.run(new Elt(spark, rec, opts("project"), opts("data"), s"$work/out"))
        case "mix" => loop.run(new Mix(spark, rec, opts("queries").split(",").toSeq,
          opts("data"), s"$work/results"))
      }
      opts.get("oracle").filter(_.nonEmpty).foreach(_.split(",").foreach { q =>
        rec.emit("oracle", "name" -> q, "sql" -> SparkEntry.oracleSql(q))
      })
      rec.drain()
      rec.emit("meta", "name" -> "peak_rss_mb", "value" -> peakRssMb())
      spark.stop()
    } finally out.close()
  }

  /** The session `graft.Main` builds for `run`, pinned to four cores and
    * with every file Spark writes kept under `work`. */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.warehouse.dir", s"$work/out/_warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}

/** A workload: one pass is the unit the closed loop repeats. */
trait Workload {
  def pass(n: Int): Unit
  /** Checks made after the loop, outside every timed span. */
  def finish(): Unit = ()
}

/** The cold pass (pass 0), `warmup` untraced passes that are not
  * measured, then measured passes for about `seconds`: passes are added
  * while the measured time falls short of `seconds` by more than half the
  * last pass, so the measured time is the whole number of passes closest
  * to `seconds`, at least one. In a traced run the measured passes are an
  * untraced pass followed by (traced, untraced) pairs, at least one, so
  * every traced pass has an untraced pass on both sides and the untraced
  * ones give the tracing overhead; all of them count towards `seconds`. */
final class Loop(spark: SparkSession, rec: Recorder, seconds: Double, warmup: Int) {
  def run(w: Workload): Unit = {
    w.pass(0)
    var n = 1
    while (n <= warmup) { pass(w, n, traced = false, measured = false); n += 1 }
    val target = seconds * 1000
    var measured = 0.0
    var last = 0.0
    def timed(traced: Boolean): Unit = {
      val t = rec.now()
      pass(w, n, traced)
      last = rec.now() - t
      measured += last
      n += 1
    }
    if (rec.trace) {
      timed(traced = false)
      do { timed(traced = true); timed(traced = false) }
      while (target - measured > last)
    } else {
      do timed(traced = false)
      while (target - measured > last / 2)
    }
    rec.tracing(spark, on = false)
    w.finish()
  }

  private def pass(w: Workload, n: Int, traced: Boolean, measured: Boolean = true): Unit = {
    rec.tracing(spark, traced)
    rec.emit("pass", "pass" -> n.toDouble, "traced" -> traced, "measured" -> measured)
    w.pass(n)
  }
}

/** One ELT pipeline per pass, as `graft.Main run` performs it:
  * `YamlLoader.load`, `compileChecked` (here its two halves,
  * `Compiler.compile` and `TypeProbe.checkWithTypes`, called separately
  * so each is timed), then a materializing `Runner` whose hubs are built
  * by `buildAllHubs` before `run` writes the outputs. */
final class Elt(spark: SparkSession, rec: Recorder, projectDir: String,
    data: String, out: String) extends Workload {

  private var loaded: Project = _

  def pass(n: Int): Unit = rec.span("pipeline", n) {
    val project = rec.span("parse", n)(YamlLoader.load(projectDir))
    loaded = project
    val cp = rec.span("analyze", n) {
      val cp = rec.span("analyze.compile", n)(new Compiler(project).compile())
      rec.span("analyze.probe", n)(TypeProbe.checkWithTypes(spark, cp))
      cp
    }
    rec.span("exec", n) {
      val runner = new Runner(cp, Runners.parquetDir(data), materializeDir = Some(out))
      rec.span("exec.hubs", n)(runner.buildAllHubs())
      rec.span("exec.outputs", n)(runner.run(out))
    }
    rec.blocks(spark, n)
  }

  /** The YAML project must be the engine's `SampleProject` (ignoring
    * order), so `SparkEntry.oracleSql` stays valid for its outputs. */
  override def finish(): Unit = {
    def norm(x: Project) = (
      x.sources.map(s => s.copy(rules = s.rules.sortBy(_.name))).toSet,
      x.relations.toSet,
      x.outputs.toSet)
    rec.emit("check", "name" -> "project_matches_sample",
      "ok" -> (norm(loaded) == norm(graft.SampleProject.project)))
  }
}

/** One pass over the query mix: each query is built by calling its
  * `SparkEntry.queries` function, then executed. */
final class Mix(spark: SparkSession, rec: Recorder, names: Seq[String],
    data: String, results: String) extends Workload {
  private lazy val queries = SparkEntry.queries

  def pass(n: Int): Unit = rec.span("pass", n) {
    names.foreach { q =>
      rec.span(s"query:$q", n) {
        try {
          val df: DataFrame = rec.span(s"entry.build:$q", n)(queries(q)(spark, data))
          rec.span(s"entry.exec:$q", n) {
            if (n == 0) df.write.mode("overwrite").parquet(s"$results/$q")
            else df.write.format("noop").mode("overwrite").save()
          }
        } catch {
          case NonFatal(e) =>
            rec.emit("error", "name" -> q, "pass" -> n.toDouble,
              "message" -> String.valueOf(e.getMessage).take(400))
        }
      }
      rec.blocks(spark, n)
    }
  }
}

/** Spans around outside calls, and in a traced run the Spark listener and
  * query-execution listener that attribute jobs and Catalyst phases to
  * them. Spans live in memory until the run ends. */
final class Recorder(out: Out, val trace: Boolean) {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private final case class Span(id: Int, parent: Int, name: String, pass: Int,
      start: Double, end: Double)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var sc: org.apache.spark.SparkContext = _
  private var on = false

  def span[T](name: String, pass: Int)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    if (on) sc.setLocalProperty(Recorder.SpanKey, id.toString)
    val start = now()
    try body
    finally {
      spans += Span(id, parent, name, pass, start, now())
      stack = stack.tail
      if (on) sc.setLocalProperty(Recorder.SpanKey,
        stack.headOption.map(_.toString).orNull)
    }
  }

  def emit(kind: String, fields: (String, Any)*): Unit =
    out.write(("kind" -> kind) +: fields)

  /** Persisted or checkpointed RDDs still registered after a unit of work;
    * checkpointed ones are then dropped, like the engine's own bench does
    * between queries, so passes do not inherit each other's blocks. */
  def blocks(spark: SparkSession, pass: Int): Unit = {
    val rdds = spark.sparkContext.getPersistentRDDs.values
    emit("blocks", "pass" -> pass.toDouble, "value" -> rdds.size.toDouble)
    rdds.filter(_.isCheckpointed).foreach(_.unpersist(blocking = false))
  }

  private val jobs = new JobListener
  private val queries = mutable.ArrayBuffer.empty[Seq[(String, Any)]]
  private val qel = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs, ok = true)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(funcName, qe, 0L, ok = false)
  }

  /** Register the listeners (a traced run starts traced). */
  def install(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    tracing(spark, on = true)
  }

  /** Add or remove the listeners; untraced passes run without them. */
  def tracing(spark: SparkSession, on: Boolean): Unit =
    if (trace && on != this.on) {
      this.on = on
      if (on) {
        sc.addSparkListener(jobs)
        spark.listenerManager.register(qel)
      } else {
        org.apache.spark.PerfbenchBus.waitUntilEmpty(sc, 30000)
        sc.removeSparkListener(jobs)
        spark.listenerManager.unregister(qel)
        sc.setLocalProperty(Recorder.SpanKey, null)
      }
    }

  private object Plans extends AdaptiveSparkPlanHelper

  private def record(funcName: String, qe: QueryExecution, durationNs: Long,
      ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    def phase(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val start = if (phases.isEmpty) 0.0 else phases.values.map(_.startTimeMs).min.toDouble
    val scans = try Plans.collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s
    }.size catch { case NonFatal(_) => 0 }
    queries.synchronized {
      queries += Seq("func" -> funcName, "ok" -> ok, "start" -> start,
        "duration_ms" -> durationNs / 1e6, "analysis_ms" -> phase("analysis"),
        "optimization_ms" -> phase("optimization"), "planning_ms" -> phase("planning"),
        "file_scans" -> scans.toDouble)
    }
  }

  /** Write spans, jobs and queries (the listeners are already removed). */
  def drain(): Unit = {
    spans.foreach { s =>
      emit("span", "id" -> s.id.toDouble, "parent" -> s.parent.toDouble, "name" -> s.name,
        "pass" -> s.pass.toDouble, "start" -> s.start, "end" -> s.end)
    }
    jobs.records.foreach(r => emit("job", r: _*))
    queries.synchronized(queries.foreach(q => emit("query", q: _*)))
  }
}

object Recorder {
  val SpanKey = "perfbench.span"
}

/** Per-job aggregates of stage and task events. */
final class JobListener extends SparkListener {
  private final class Job(val id: Int, val span: String, val desc: String,
      val start: Double, val stages: Seq[Int]) {
    var end = 0.0
    var ok = true
    val submitted = mutable.Set.empty[Int]
    val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  }
  private val byId = mutable.LinkedHashMap.empty[Int, Job]
  private val jobOfStage = mutable.Map.empty[Int, Job]
  private val stageSubmit = mutable.Map.empty[Int, Double]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    val j = new Job(e.jobId, prop(Recorder.SpanKey), prop("spark.job.description"),
      e.time.toDouble, e.stageIds)
    byId(e.jobId) = j
    e.stageIds.foreach(s => jobOfStage(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach { j =>
      j.end = e.time.toDouble
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = e.stageInfo
    stageSubmit(s.stageId) = s.submissionTime.map(_.toDouble).getOrElse(0.0)
    jobOfStage.get(s.stageId).foreach(_.submitted += s.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    jobOfStage.get(e.stageId).foreach { j =>
      val i = e.taskInfo
      val m = j.m
      m("tasks") += 1
      if (e.reason != org.apache.spark.Success) m("failed_tasks") += 1
      m("task_busy_ms") += i.duration.toDouble
      m("max_task_ms") = math.max(m("max_task_ms"), i.duration.toDouble)
      m("task_wait_ms") += math.max(0.0, i.launchTime - stageSubmit.getOrElse(e.stageId, i.launchTime.toDouble))
      Option(e.taskMetrics).foreach { t =>
        m("input_bytes") += t.inputMetrics.bytesRead.toDouble
        m("input_records") += t.inputMetrics.recordsRead.toDouble
        m("output_bytes") += t.outputMetrics.bytesWritten.toDouble
        m("shuffle_read_bytes") += (t.shuffleReadMetrics.remoteBytesRead +
          t.shuffleReadMetrics.localBytesRead).toDouble
        m("shuffle_write_bytes") += t.shuffleWriteMetrics.bytesWritten.toDouble
        m("spill_bytes") += (t.memoryBytesSpilled + t.diskBytesSpilled).toDouble
        m("gc_ms") += t.jvmGCTime.toDouble
      }
    }
  }

  def records: Seq[Seq[(String, Any)]] = synchronized {
    byId.values.toSeq.map { j =>
      Seq("id" -> j.id.toDouble, "span" -> j.span, "desc" -> j.desc,
        "start" -> j.start, "end" -> j.end, "ok" -> j.ok,
        "stages" -> j.stages.size.toDouble,
        "skipped_stages" -> (j.stages.size - j.submitted.size).toDouble) ++ j.m.toSeq
    }
  }
}

/** JSON-lines writer for flat records of strings, numbers and booleans. */
final class Out(path: String) {
  private val w = {
    new File(path).getAbsoluteFile.getParentFile.mkdirs()
    new PrintWriter(path, "UTF-8")
  }
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def write(fields: Seq[(String, Any)]): Unit = synchronized {
    w.println(fields.map { case (k, v) =>
      str(k) + ":" + (v match {
        case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
        case b: Boolean => b.toString
        case null => "null"
        case o => str(o.toString)
      })
    }.mkString("{", ",", "}"))
    w.flush()
  }
  def close(): Unit = w.close()
}
