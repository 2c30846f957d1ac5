package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>`
  *
  * Runs one workload as one closed-loop client and prints, as the last
  * stdout line, `{"correct", "attempted", "failed", "metrics"}`: the
  * end-to-end metrics untraced, the per-layer metrics traced. A fuller
  * report (sample counts, per-kind latencies, failures, and for traced
  * runs the spans and the per-layer summary) goes to
  * `.bench_build/perfbench/`.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      recordReference: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(
      workload = m.getOrElse("workload", sys.error("--workload is required")),
      seed = m.getOrElse("seed", "1").toLong,
      seconds = m.getOrElse("seconds", "10").toDouble,
      trace = m.getOrElse("trace", "0") == "1",
      recordReference = m.get("record-reference").contains("1"))
  }

  /** The one session config every workload uses: the library's own
    * configuration on local[nproc], with `graft.Bench`'s sizing.
    */
  def session(work: File): SparkSession = {
    val spark = graft.GraftSession.configure(SparkSession.builder())
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "false")
      .config("graft.cache.maxLiveCorpora", "64")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "tmp").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val work = new File(".bench_build/perfbench").getAbsoluteFile
    work.mkdirs()
    val spark = session(work)
    val bench = new Bench(spark, args, work)
    val wl: Workload = args.workload match {
      case "gate" => new Gate(bench)
      case "logs_read" => new LogsRead(bench)
      case "logs_ingest" => new LogsIngest(bench)
      case other => sys.error(s"unknown workload $other")
    }
    val line =
      try {
        if (args.recordReference) { wl.asInstanceOf[Gate].recordReference(); None }
        else Some(new Runner(bench, wl).run())
      } finally {
        wl.close()
        spark.stop()
      }
    line.foreach(println)
  }
}

/** Session, arguments and the current phase's tracer, shared by a run. */
final class Bench(val spark: SparkSession, val args: Main.Args, val work: File) {
  var tr: Tracer = new Tracer(false, spark.sparkContext)
  /** Spark cache bytes held by the benchmark's own reference data, left
    * out of the cache and heap figures.
    */
  var ownCacheBytes = 0L
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

/** One operation's result: its latency (timed part only) and, when its
  * output was wrong or it failed, why.
  */
final case class Outcome(kind: String, latencyNs: Long, error: Option[String] = None)

abstract class Workload(val b: Bench) {
  /** Inputs, stub, reference data and warm-up; counted in setup_s. */
  def setup(): Unit
  /** One closed-loop operation with its untimed preparation and checks. */
  def op(id: Long): Outcome
  /** Operations in one block: a phase ends only on a block boundary, so
    * every phase runs an exact mix (gate: one pass).
    */
  def blockOps: Int
  /** Operations per second the program ran at when the benchmark was
    * defined: a phase of `s` seconds runs ceil(s × rate) operations,
    * rounded up to whole blocks, so every run does the same work.
    */
  def nominalOpsPerS: Double
  /** The operations op_p50_ms is the median of: the kind the workload is
    * about, so the median sits inside one latency cluster instead of on
    * the edge between two. ops_per_s counts every operation.
    */
  def primary(kind: String): Boolean = true
  /** The checks of the set-up's own operations (warm-up): None when an
    * answer was right, else why not. Each counts as attempted.
    */
  def setupChecks: Seq[Option[String]] = Nil
  /** Failed checks deferred past the timed region. */
  def deferredFailures(): Seq[String] = Nil
  def close(): Unit = ()
  def spark: SparkSession = b.spark
}

/** One phase's (kind, latency ms) samples. */
final case class Phase(samples: Seq[(String, Double)], primary: String => Boolean) {
  def lat: Seq[Double] = samples.map(_._2)
  def opsPerS: Double = samples.size / (lat.sum / 1e3)
  def primaryLat: Seq[Double] = samples.collect { case (k, ms) if primary(k) => ms }
}

/** Runs the phases, keeps the samples and prints the result line. */
final class Runner(b: Bench, wl: Workload) {
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private var nextId = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var peakHeapMb = 0.0

  /** Live heap right after a full GC, outside the timed operations. */
  private def sampleHeap(): Unit = {
    // the second GC also frees what Spark's ContextCleaner released after
    // the first one (broadcasts, shuffle and RDD blocks of dropped plans)
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed
    peakHeapMb = math.max(peakHeapMb, (used - b.ownCacheBytes) / 1048576.0)
  }

  private def phase(seconds: Double, minOps: Int): Phase = {
    val samples = mutable.ArrayBuffer.empty[(String, Double)]
    val target = math.max(minOps, math.ceil(seconds * wl.nominalOpsPerS).toInt)
    val ops = (target + wl.blockOps - 1) / wl.blockOps * wl.blockOps
    val gcEvery = math.max(1, ops / 2)
    var done = 0
    while (done < ops) {
      nextId += 1
      attempted += 1
      val o =
        try wl.op(nextId)
        catch { case e: Throwable => Outcome("failed", 0L, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
      o.error match {
        case Some(why) =>
          failures += s"op $nextId (${o.kind}): $why"
          b.log(s"FAILED op $nextId (${o.kind}): $why")
        case None => samples += o.kind -> o.latencyNs / 1e6
      }
      done += 1
      if (done % gcEvery == 0 && done < ops) sampleHeap()
    }
    sampleHeap()
    Phase(samples.toSeq, wl.primary)
  }

  def run(): String = {
    val a = b.args
    wl.setup()
    attempted += wl.setupChecks.size
    failures ++= wl.setupChecks.flatten
    val minOps = Stats.samplesFor(50)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    b.log(f"setup done in $setupS%.2f s")
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val report = mutable.LinkedHashMap.empty[String, Any]
    if (!a.trace) {
      val p = phase(a.seconds, minOps)
      failures ++= wl.deferredFailures()
      val lat = p.lat
      val prim = p.primaryLat
      metrics("setup_s") = (setupS, "s")
      require(Stats.percentile(prim, 50).isDefined, s"only ${prim.size} samples")
      metrics("op_p50_ms") = (Stats.median(prim), "ms")
      metrics("ops_per_s") = (p.opsPerS, "1/s")
      metrics("peak_live_heap_mb") = (peakHeapMb, "MB")
      report("samples") = lat.size
      report("median_samples") = prim.size
      report("per_kind") = p.samples.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, xs) =>
        val l = xs.map(_._2)
        k -> Map("samples" -> l.size, "p50_ms" -> Stats.percentile(l, 50),
          "p75_ms" -> Stats.percentile(l, 75), "p90_ms" -> Stats.percentile(l, 90))
      }.toMap
      report("p90_ms") = Stats.percentile(lat, 90)
      report("ops") = p.samples.map { case (k, ms) => Seq(k, ms) }
    } else {
      // untraced half, then traced half: their difference is the tracing overhead
      val untraced = phase(a.seconds / 2, Stats.samplesFor(50))
      b.tr = new Tracer(true, b.spark.sparkContext, b.ownCacheBytes)
      val traced = phase(a.seconds / 2, Stats.samplesFor(50))
      failures ++= wl.deferredFailures()
      val l = b.tr.ledger
      val (badOps, worst) = b.tr.selfTimes()
      if (badOps > 0) b.log(s"self times do not add up to wall time on $badOps ops (worst ${worst} ms)")
      val floors = (1 to 10).map { _ =>
        val t = System.nanoTime()
        b.spark.sparkContext.parallelize(Seq(1), 1).count()
        (System.nanoTime() - t) / 1e6
      }
      val ratio = (n: String, d: String) => if (l(d) > 0) l(n) / l(d) else 0.0
      val per = PerLayer.values(l, Map(
        "plan.pushed_ratio" -> ratio("plan.pushed_reads", "plan.reads"),
        "plan.metric_pushed_ratio" -> ratio("plan.metric_pushed_reads", "plan.agg_reads"),
        "wire.rows_per_result_row" -> ratio("scan.rows", "answer.rows"),
        "write.push_bytes_per_row" -> ratio("write.push_bytes", "write.rows_written"),
        "stub.cache_hit_ratio" -> ratio("stub.cache_hits", "stub.requests"),
        "spark.job_floor_ms" -> Stats.median(floors),
        "trace.self_sum_err_ms" -> worst,
        "trace.overhead_op_p50_ms" ->
          (Stats.median(traced.primaryLat) - Stats.median(untraced.primaryLat)),
        "trace.overhead_ops_per_s" -> (traced.opsPerS - untraced.opsPerS)))
      per.foreach { case (k, (v, u)) => metrics(k) = (v, u) }
      report("samples") = traced.lat.size
      report("self_time_bad_ops") = badOps
      report("raw_ledger") = l.sums.toMap
      val stem = s"${a.workload}-seed${a.seed}"
      b.tr.writeSpans(new File(b.work, s"$stem.spans.jsonl"))
      Json.write(new File(b.work, s"$stem.layers.json"),
        metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap)
    }
    report("setup_s") = setupS
    report("attempted") = attempted
    report("failed") = failures.size
    report("error_rate") = failures.size.toDouble / math.max(attempted, 1)
    report("failures") = failures.take(50).toSeq
    Json.write(new File(b.work, s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.report.json"),
      report.toMap)
    b.log(s"report: ${Json.render(report.toMap)}")
    val ms = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}""" }
    s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": ${failures.size}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Per-layer metric names and units, in BENCHMARK.json's order. */
object PerLayer {
  val Units: Seq[(String, String)] = Seq(
    "plan.ms" -> "ms", "plan.pushed_ratio" -> "ratio", "plan.metric_pushed_ratio" -> "ratio",
    "expr.hof_nodes" -> "count", "expr.fallback_nodes" -> "count",
    "wire.requests" -> "count", "wire.bytes" -> "bytes", "wire.call_ms" -> "ms",
    "wire.rows_per_result_row" -> "ratio", "scan.partitions" -> "count",
    "scan.read_ms" -> "ms", "scan.decode_ms" -> "ms",
    "write.push_requests" -> "count", "write.push_bytes_per_row" -> "bytes",
    "write.rows_written" -> "count", "write.push_call_ms" -> "ms",
    "stub.serve_ms" -> "ms", "stub.cache_hit_ratio" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_ms" -> "ms", "spark.cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.sched_delay_ms" -> "ms", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.job_floor_ms" -> "ms",
    "cache.scan_nodes" -> "count", "cache.bytes" -> "bytes",
    "self.op_ms" -> "ms", "self.build_ms" -> "ms", "self.plan_ms" -> "ms",
    "self.execute_ms" -> "ms", "self.job_ms" -> "ms", "self.stage_ms" -> "ms",
    "self.task_ms" -> "ms", "trace.self_sum_err_ms" -> "ms",
    "trace.overhead_op_p50_ms" -> "ms", "trace.overhead_ops_per_s" -> "1/s")

  def values(l: Ledger, derived: Map[String, Double]): Seq[(String, (Double, String))] =
    Units.map { case (k, u) => k -> (derived.getOrElse(k, l(k)), u) }
}

/** Just enough JSON writing for the result line and the report files. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ": " + render(x) }.sorted.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ", ", "]")
    case x => str(x.toString)
  }
  def write(f: File, v: Any): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(render(v)) finally w.close()
  }
}
