package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Input sizes. `full` is what the benchmark runs; `tiny` is the
  * self-tests' smoke scale. */
final case class Sizes(applicants: Long, frameRows: Long, requests: Int,
    minRequests: Int, setups: Int)

object Sizes {
  val full: Sizes = Sizes(applicants = 20000, frameRows = 500000, requests = 256,
    minRequests = 50, setups = 3)
  val tiny: Sizes = Sizes(applicants = 600, frameRows = 5000, requests = 16,
    minRequests = 12, setups = 2)
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: String, out: String, cores: Int, sizes: Sizes)

/** What a workload measured: operations attempted and failed (a failed
  * output check fails its operation), every end-to-end metric, the
  * per-layer metrics it exercises, spans, and extra report lines. */
final case class Outcome(attempted: Int, failed: Int, endToEnd: Map[String, Double],
    perLayer: Map[String, Double], spans: Seq[Span], counters: SpanListener,
    report: Seq[(String, Double, String)])

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val args: Args) {
  val listener = new SpanListener
  if (args.trace) spark.sparkContext.addSparkListener(listener)

  /** A tracer that attributes Spark work only in the traced run. Span
    * timestamps are always kept: they cost two clock reads. */
  def tracer(attribute: Boolean): Tracer = new Tracer(spark.sparkContext, attribute)

  def log(msg: String): Unit = System.err.println(
    f"[bench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%7.1f s  $msg")

  /** Runs `step` `args.sizes.setups` times; returns the last result and the
    * median time. */
  def repeatedSetup[T](step: Int => T): (T, Double) = {
    val times = (1 to args.sizes.setups).map { i =>
      val t0 = System.nanoTime()
      val r = step(i)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    log(f"setup times: ${times.map(t => f"${t._2}%.3f").mkString(", ")}")
    (times.last._1, Stats.median(times.map(_._2)))
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  def peakHeapMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1000.0

  /** Sum of Spark counters over spans named `name`. */
  def sparkWork(spans: Seq[Span], name: String): (Long, Long, Long, Long) = {
    val cs = spans.filter(_.name == name).map(s => listener.of(s.id))
    (cs.map(_.jobs.sum()).sum, cs.map(_.stages.sum()).sum,
      cs.map(_.tasks.sum()).sum, cs.map(_.runMs.sum()).sum)
  }

  /** `<prefix>_jobs/_stages/_tasks/_util` per span named `name`, averaged
    * over those spans; util is executor run time over (wall x cores). */
  def sparkLayer(spans: Seq[Span], name: String, prefix: String): Map[String, Double] = {
    val matching = spans.filter(_.name == name)
    if (matching.isEmpty) Map.empty
    else {
      val (jobs, stages, tasks, runMs) = sparkWork(spans, name)
      val n = matching.size.toDouble
      val wallMs = matching.map(s => (s.end - s.start) / 1e6).sum
      Map(s"${prefix}_jobs" -> jobs / n, s"${prefix}_stages" -> stages / n,
        s"${prefix}_tasks" -> tasks / n,
        s"${prefix}_util" -> runMs / (wallMs * args.cores))
    }
  }
}

/** Runs one workload and prints its metrics. The last stdout line is the
  * result object; with `--trace 1` it carries the per-layer metrics, and
  * the spans go to `<out>/spans-<workload>-<seed>.json`.
  *
  *   graftbench.Main --workload loan_train --seed 1 --seconds 10 --trace 0
  *     --work <scratch dir> --out <span dir> [--cores N]
  */
object Main {

  val workloads: Map[String, Ctx => Outcome] = Map(
    "loan_train" -> LoanTrain.run,
    "loan_serve" -> LoanServe.run)

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val workload = need("--workload")
    require(workloads.contains(workload),
      s"unknown workload $workload; known: ${workloads.keys.toSeq.sorted.mkString(", ")}")
    val trace = need("--trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Args(workload, need("--seed").toLong, need("--seconds").toDouble, trace == "1",
      need("--work"), need("--out"),
      kv.get("--cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      Sizes.full)
  }

  /** The session `graft.Bench` builds, so the benchmark measures the
    * shipped engine; every file Spark writes goes under `work`. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-repo-bench")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.graft.scaleGuard", "true")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(args: Args): String = {
    Files.createDirectories(Paths.get(args.work))
    val spark = session(args.cores, args.work)
    try {
      val o = workloads(args.workload)(new Ctx(spark, args))
      Metrics.endToEnd.foreach(d =>
        println(f"metric ${d.name}%-26s ${o.endToEnd(d.name)}%16.6f ${d.unit}"))
      o.report.foreach { case (n, v, u) => println(f"metric $n%-26s $v%16.6f $u") }
      if (args.trace) {
        Metrics.perLayer.foreach(d =>
          println(f"layer  ${d.name}%-26s ${o.perLayer.getOrElse(d.name, 0.0)}%16.6f ${d.unit}"))
        writeSpans(args, o)
      }
      result(args.trace, o)
    } finally spark.stop()
  }

  /** The result object: the end-to-end metrics, or with `trace` every
    * per-layer metric (0 for a layer the workload does not exercise). */
  def result(trace: Boolean, o: Outcome): String = {
    val missing = Metrics.endToEnd.map(_.name).filterNot(o.endToEnd.contains)
    require(missing.isEmpty, s"end-to-end metrics not measured: ${missing.mkString(", ")}")
    val shown =
      if (trace) Metrics.perLayer.map(d => d -> o.perLayer.getOrElse(d.name, 0.0))
      else Metrics.endToEnd.map(d => d -> o.endToEnd(d.name))
    val metrics = shown.map { case (d, v) =>
      s""""${d.name}": {"value": ${num(v)}, "unit": "${d.unit}"}""" }.mkString(", ")
    s"""{"correct": ${o.failed == 0}, "attempted": ${o.attempted}, """ +
      s""""failed": ${o.failed}, "metrics": {$metrics}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) throw new IllegalStateException(s"non-finite metric $v")
    else v.toString

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** Spans with their self time and attributed Spark work, as JSON. */
  def writeSpans(args: Args, o: Outcome): Unit = {
    val children = o.spans.groupBy(_.parent)
    val rows = o.spans.map { s =>
      val self = Stats.selfTime(s.start, s.end,
        children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      val c = o.counters.of(s.id)
      s"""{"id": ${s.id}, "name": "${esc(s.name)}", "parent": ${s.parent}, """ +
        s""""start_ns": ${s.start}, "end_ns": ${s.end}, "self_s": ${self / 1e9}, """ +
        s""""jobs": ${c.jobs.sum()}, "stages": ${c.stages.sum()}, "tasks": ${c.tasks.sum()}, """ +
        s""""run_ms": ${c.runMs.sum()}, "shuffle_bytes": ${c.shuffleBytes.sum()}}"""
    }
    val dir = Paths.get(args.out)
    Files.createDirectories(dir)
    val file = dir.resolve(s"spans-${args.workload}-${args.seed}.json")
    Files.writeString(file, rows.mkString("[\n", ",\n", "\n]\n"))
    // self time per span name, for the log
    o.spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
      val self = ss.map(s => Stats.selfTime(s.start, s.end,
        children.getOrElse(s.id, Nil).map(c => (c.start, c.end)))).sum / 1e9
      System.err.println(f"[bench] span $name%-22s n=${ss.size}%5d self=$self%9.3f s")
    }
    System.err.println(s"[bench] spans written to $file")
  }

  def main(argv: Array[String]): Unit = {
    println(run(parse(argv)))
  }
}
