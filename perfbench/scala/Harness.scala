package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: builds a warm GraftSession, drives one
  * workload's closed loop (one client) through graft's public functions,
  * checks every output against the generator's expected answers, and writes
  * one JSON result file. `perfbench/run.py` builds, generates inputs,
  * starts PostgreSQL and launches this.
  *
  *   Harness --workload W --manifest M --work DIR --seconds S --trace 0|1
  *           --cpus N --out FILE [--pg-socket DIR]
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    HeapPeak.install()
    // set-up: JVM start to a warm GraftSession. One sample per run: a
    // session restarted inside the warm JVM reads several times faster and
    // swings twice as much with host load, so it is not the user's set-up
    val spark = session(a)
    val setupS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val out = mutable.LinkedHashMap[String, Any]("setup_s" -> setupS)
    try out ++= drive(spark, a, setupS)
    finally {
      Files.writeString(Paths.get(a("out")), Json.write(out), StandardCharsets.UTF_8)
      spark.stop()
    }
  }

  private def session(a: Map[String, String]): SparkSession = {
    val cpus = a("cpus").toInt
    val spark = graft.core.GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus)
      .config("spark.local.dir", s"${a("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  private def drive(spark: SparkSession, a: Map[String, String], setupS: Double): Map[String, Any] = {
    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val runId = s"${a("workload")}-${ManagementFactory.getRuntimeMXBean.getStartTime}"
    val tracer = new Tracer(spark.sparkContext, trace, runId)
    tracer.enabled = false
    val manifest = new ObjectMapper().readTree(Files.readString(Paths.get(a("manifest"))))
    val inputDir = Paths.get(a("manifest")).getParent.toString
    val ctx = Ctx(spark, tracer, manifest, inputDir, a("work"), a.get("pg-socket"), trace)
    val w: Workload = a("workload") match {
      case "wrds_refresh" => new WrdsRefresh(ctx)
      case "corpus_dedup" => new CorpusDedup(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.prepare()
    var i = 0
    w.note(f"prepared at ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s")
    HeapPeak.reset()
    // closed loop: the next cycle starts when the previous one ends; a
    // traced run spends its first half untraced, for the overhead ratio
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val plain = mutable.ArrayBuffer.empty[Map[String, Double]]
    val traced = mutable.ArrayBuffer.empty[Map[String, Double]]
    val layerRows = mutable.ArrayBuffer.empty[Map[String, Double]]
    val plainBudget = if (trace) seconds / 2 else seconds
    // a traced run needs a warm untraced cycle to compare against
    val plainMin = if (trace) 2 else w.minCycles
    while (w.hasCycle(i) && (plain.size < plainMin || elapsed < plainBudget)) {
      plain += w.cycle(i)
      w.note(f"cycle $i: ${plain.last("cycle_s")}%.3f s")
      i += 1
    }
    if (trace) {
      tracer.enabled = true
      val t1 = System.nanoTime()
      val tracedMin = math.min(2, w.minCycles)
      while (w.hasCycle(i) && (traced.size < tracedMin || (System.nanoTime() - t1) / 1e9 < seconds / 2)) {
        val mark = tracer.spans.size
        val row = w.cycle(i)
        val sp = tracer.since(mark)
        traced += row
        layerRows += row ++ Layers.of(sp) ++ w.layerExtra(sp)
        i += 1
      }
      tracer.enabled = false
    }
    val peakMb = HeapPeak.peakMb()
    val detail = Stats.medians(plain.toSeq) ++ w.pooled
    val result = mutable.LinkedHashMap[String, Any](
      "attempted" -> w.attempted, "failed" -> w.failed,
      "errors" -> w.errors.take(20).toSeq,
      "cycles" -> plain.size, "traced_cycles" -> traced.size,
      "end_to_end" -> Map(
        "cycle_s" -> detail("cycle_s"), "peak_live_heap_mb" -> peakMb),
      "detail" -> detail,
      "cycle_values" -> plain.map(_("cycle_s")).toSeq)
    if (trace) {
      val layers = mutable.LinkedHashMap[String, Any]()
      layers ++= Stats.medians(layerRows.toSeq)
      layers("core.session_s") = setupS
      // against the warm untraced cycles (the first one may be cold)
      layers("trace.overhead_ratio") = Stats.median(traced.map(_("cycle_s")).toSeq) /
        Stats.median(plain.drop(if (plain.size > 1) 1 else 0).map(_("cycle_s")).toSeq)
      layers("trace.spans") = tracer.spans.size.toDouble
      result("layers") = layers
      val spanFile = Paths.get(a("out")).resolveSibling("spans.json")
      Files.writeString(spanFile, Json.write(tracer.spans.map(Layers.spanJson)), StandardCharsets.UTF_8)
    }
    result.toMap
  }
}

final case class Ctx(
    spark: SparkSession, tracer: Tracer, manifest: JsonNode,
    inputDir: String, work: String, pgSocket: Option[String], trace: Boolean) {
  def input(rel: String): String = s"$inputDir/$rel"
}

/** One workload's closed loop. `cycle` returns that cycle's measures
  * (`cycle_s` plus the workload's own named metrics); a wrong answer is
  * recorded with `fail`. */
abstract class Workload(ctx: Ctx) {
  val spark: SparkSession = ctx.spark
  val tr: Tracer = ctx.tracer
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  /** One-off work before the measured cycles, e.g. an initial load. */
  def prepare(): Unit = ()
  /** Cycles a run makes at least, however long they take. */
  def minCycles: Int = 3
  def hasCycle(i: Int): Boolean = true
  def cycle(i: Int): Map[String, Double]
  /** Run-level metrics pooled over every cycle (e.g. query percentiles). */
  def pooled: Map[String, Double] = Map.empty
  /** Workload-specific per-layer metrics from one traced cycle's spans. */
  def layerExtra(spans: Seq[Span]): Map[String, Double] = Map.empty

  /** Counts one operation; a thrown exception or a false check fails it. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  def fail(msg: String): Unit = {
    failed += 1
    errors += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)

  def note(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }
}

/** Per-layer aggregation of one traced cycle's spans. A span's layer is
  * its name up to the first dot. */
object Layers {
  val Names = Seq("sources", "sinks", "pipeline", "plans", "operators")
  private val Mb = 1024.0 * 1024.0

  def of(spans: Seq[Span]): Map[String, Double] =
    Names.flatMap { l =>
      val s = spans.filter(_.name.takeWhile(_ != '.') == l)
      Seq(
        s"$l.wall_s" -> s.map(_.wallS).sum,
        s"$l.self_s" -> s.map(_.selfS).sum,
        s"$l.task_s" -> s.map(_.taskS).sum,
        s"$l.driver_s" -> s.map(_.driverS).sum,
        s"$l.jobs" -> s.map(_.c.jobs.toDouble).sum,
        s"$l.tasks" -> s.map(_.c.tasks.toDouble).sum,
        s"$l.failed_tasks" -> s.map(_.c.failedTasks.toDouble).sum,
        s"$l.shuffle_write_mb" -> s.map(_.c.shuffleWriteBytes / Mb).sum,
        s"$l.spill_mb" -> s.map(_.c.spillBytes / Mb).sum)
    }.toMap

  def named(spans: Seq[Span], prefix: String): Seq[Span] =
    spans.filter(s => s.name == prefix || s.name.startsWith(prefix + "."))

  def mb(bytes: Double): Double = bytes / Mb

  def spanJson(s: Span): Map[String, Any] = Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS,
    "self_s" -> s.selfS, "task_s" -> s.taskS, "driver_s" -> s.driverS,
    "jobs" -> s.c.jobs, "stages" -> s.c.stages, "tasks" -> s.c.tasks,
    "failed_tasks" -> s.c.failedTasks,
    "shuffle_write_mb" -> s.c.shuffleWriteBytes / Mb, "spill_mb" -> s.c.spillBytes / Mb,
    "mb_read" -> s.c.bytesRead / Mb, "records_read" -> s.c.recordsRead)
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def medians(rows: Seq[Map[String, Double]]): Map[String, Double] =
    rows.flatMap(_.keys).distinct.map(k => k -> median(rows.flatMap(_.get(k)))).toMap
}

object Json {
  private val mapper = new ObjectMapper().registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def write(v: Any): String = mapper.writeValueAsString(v)
}
