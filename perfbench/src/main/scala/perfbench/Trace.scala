package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback

import graft.sources.loki.{LokiHttp, LokiInputPartition, LokiMetricPartition,
  LokiMetricScan, LokiScan}
import graft.sources.loki.testkit.LokiStubServer
import org.apache.spark.perfbench.BusDrain

/** One span: a layer's interval inside (or, for replays, after) one
  * operation. Times are epoch nanoseconds.
  */
final case class Span(op: Long, layer: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Named per-layer sums for one run. */
final class Ledger {
  val sums = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = sums(k) = sums.getOrElse(k, 0.0) + v
  def max(k: String, v: Double): Unit = sums(k) = math.max(sums.getOrElse(k, 0.0), v)
  def apply(k: String): Double = sums.getOrElse(k, 0.0)
}

/** Job, stage and task events, keyed to an operation through the job
  * group the operation runs under (`spark.jobGroup.id` = operation id).
  */
final class TraceListener extends SparkListener {
  import TraceListener.Task
  private val jobOp = mutable.HashMap.empty[Int, Long]
  private val jobTimes = mutable.HashMap.empty[Int, (Long, Long)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageTimes = mutable.HashMap.empty[Int, (Long, Long)]
  private val tasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Task]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toLongOption).foreach { op =>
        jobOp(e.jobId) = op
        jobTimes(e.jobId) = (e.time, e.time)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTimes.get(e.jobId).foreach { case (s, _) => jobTimes(e.jobId) = (s, e.time) }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    if (stageJob.contains(i.stageId))
      for (s <- i.submissionTime; c <- i.completionTime) stageTimes(i.stageId) = (s, c)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.contains(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      val info = e.taskInfo
      val dur = info.finishTime - info.launchTime
      val sched = math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime)
      tasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += Task(
        e.stageId, info.launchTime, info.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, sched,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Remove and return one operation's jobs, stages and tasks. */
  def take(op: Long): (Seq[(Long, Long)], Seq[(Long, Long)], Seq[Task]) = synchronized {
    val jobs = jobOp.collect { case (j, o) if o == op => j }.toSeq
    val stages = stageJob.collect { case (s, j) if jobs.contains(j) => s }.toSeq
    val out = (jobs.flatMap(jobTimes.get), stages.flatMap(stageTimes.get),
      stages.flatMap(s => tasks.getOrElse(s, Nil)))
    jobs.foreach { j => jobOp.remove(j); jobTimes.remove(j) }
    stages.foreach { s => stageJob.remove(s); stageTimes.remove(s); tasks.remove(s) }
    out
  }
}

object TraceListener {
  final case class Task(stage: Int, launchMs: Long, finishMs: Long, runMs: Long,
      cpuNs: Long, gcMs: Long, schedMs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long)
}

/** Tracing for the traced run; with `enabled = false` every hook only
  * runs its body, so untraced runs measure the program alone.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext, ownCacheBytes: Long = 0L) {
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + offsetNs

  val spans = mutable.ArrayBuffer.empty[Span]
  val ledger = new Ledger
  private var current = -1L
  private val listener = new TraceListener
  if (enabled) sc.addSparkListener(listener)

  /** Time one operation (its wall time is the operation's latency). */
  def op[T](id: Long)(body: => T): (T, Long) = {
    current = id
    if (enabled) sc.setJobGroup(id.toString, s"op $id", interruptOnCancel = false)
    val s = now()
    try {
      val r = body
      val e = now()
      if (enabled) spans += Span(id, "op", s, e)
      (r, e - s)
    } finally if (enabled) sc.clearJobGroup()
  }

  /** A layer span inside the current operation. */
  def span[T](layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = now()
      try body
      finally {
        val sp = Span(current, layer, s, now())
        spans += sp
        if (layer == "plan") ledger.add("plan.ms", sp.ms)
      }
    }

  /** Job, stage and task spans plus the Spark engine counters of `id`. */
  def harvest(id: Long): Unit = if (enabled) {
    BusDrain(sc)
    val (jobs, stages, tasks) = listener.take(id)
    def ms(t: Long) = t * 1000000L
    jobs.foreach { case (s, e) => spans += Span(id, "job", ms(s), ms(e)) }
    stages.foreach { case (s, e) => spans += Span(id, "stage", ms(s), ms(e)) }
    tasks.foreach(t => spans += Span(id, "task", ms(t.launchMs), ms(t.finishMs)))
    val l = ledger
    l.add("spark.jobs", jobs.size)
    l.add("spark.stages", stages.size)
    l.add("spark.tasks", tasks.size)
    l.add("spark.task_ms", tasks.map(_.runMs).sum)
    l.add("spark.cpu_ms", tasks.map(_.cpuNs).sum / 1e6)
    l.add("spark.gc_ms", tasks.map(_.gcMs).sum)
    l.add("spark.sched_delay_ms", tasks.map(_.schedMs).sum)
    l.add("spark.shuffle_read_bytes", tasks.map(_.shuffleRead).sum)
    l.add("spark.shuffle_write_bytes", tasks.map(_.shuffleWrite).sum)
    l.add("spark.spill_bytes", tasks.map(_.spill).sum)
  }

  /** Expression and cache counters of one executed plan. */
  def planCounters(plan: SparkPlan): Unit = if (enabled) {
    val nodes = plan.collectWithSubqueries { case p => p }
    val exprs = nodes.flatMap(_.expressions.flatMap(_.collect { case e => e }))
    ledger.add("expr.hof_nodes", exprs.count(_.isInstanceOf[HigherOrderFunction]))
    ledger.add("expr.fallback_nodes", exprs.count(_.isInstanceOf[CodegenFallback]))
    ledger.add("cache.scan_nodes", nodes.count(_.isInstanceOf[InMemoryTableScanExec]))
    ledger.max("cache.bytes", (sc.getRDDStorageInfo.map(_.memSize).sum - ownCacheBytes).toDouble)
  }

  /** Replays: the operation's recorded query_range requests through
    * `LokiHttp`, the scan's reader factory over its input partitions, and
    * its recorded push bodies into a scratch stub. Each is its own span,
    * after the operation.
    */
  def replayReads(id: Long, plan: SparkPlan, endpoint: String,
      ranges: Seq[(String, Option[Long], Option[Long])], answerRows: Long): Unit = if (enabled) {
    val scans = plan.collectWithSubqueries {
      case b: BatchScanExec if b.scan.isInstanceOf[LokiScan] ||
        b.scan.isInstanceOf[LokiMetricScan] => b
    }
    val parts = scans.flatMap(_.inputPartitions)
    val logPart = parts.collectFirst { case p: LokiInputPartition => p }
    val metricPart = parts.collectFirst { case p: LokiMetricPartition => p }
    var bytes = 0L
    val s0 = now()
    ranges.foreach { case (logql, start, end) =>
      val (s, e) = (start.getOrElse(0L), end.getOrElse(LokiHttp.nowNs))
      if (logql.startsWith("{")) {
        val (limit, dir) = logPart match {
          case Some(p) if p.limit.isDefined => (p.limit, p.direction)
          case Some(p) if p.pageSize.isDefined => (p.pageSize, Some("forward"))
          case Some(p) => (None, p.direction)
          case None => (None, None)
        }
        bytes += LokiHttp.queryRange(endpoint, logql, s, e, limit, dir).length
      } else {
        val step = metricPart.map(_.stepNs).getOrElse(math.max(1L, (e - s) / 1000000000L) * 1000000000L)
        LokiHttp.queryRangeMetricD(endpoint, logql, s, e, step)
      }
    }
    val s1 = now()
    spans += Span(id, "replay.wire", s0, s1)
    var rows = 0L
    scans.foreach { b =>
      val f = b.readerFactory
      b.inputPartitions.foreach { p =>
        if (f.supportColumnarReads(p)) {
          val r = f.createColumnarReader(p)
          try while (r.next()) rows += r.get().numRows() finally r.close()
        } else {
          val r = f.createReader(p)
          try while (r.next()) rows += 1 finally r.close()
        }
      }
    }
    val s2 = now()
    spans += Span(id, "replay.scan", s1, s2)
    val l = ledger
    l.add("wire.requests", ranges.size)
    l.add("wire.bytes", bytes)
    l.add("wire.call_ms", (s1 - s0) / 1e6)
    l.add("scan.partitions", parts.size)
    l.add("scan.read_ms", (s2 - s1) / 1e6)
    l.add("scan.decode_ms", ((s2 - s1) - (s1 - s0)) / 1e6)
    l.add("scan.rows", rows)
    l.add("answer.rows", answerRows)
    // every predicate pushed: no Spark filter left above the Loki scan
    l.add("plan.reads", 1)
    if (!plan.exists(_.isInstanceOf[FilterExec])) l.add("plan.pushed_reads", 1)
  }

  def replayPushes(id: Long, scratch: LokiStubServer, bodies: Seq[String]): Unit = if (enabled) {
    val s0 = now()
    bodies.foreach(LokiHttp.push(scratch.endpoint, _))
    val s1 = now()
    scratch.clear()
    spans += Span(id, "replay.push", s0, s1)
    ledger.add("write.push_requests", bodies.size)
    ledger.add("write.push_bytes", bodies.map(_.length.toLong).sum)
    ledger.add("write.push_call_ms", (s1 - s0) / 1e6)
  }

  /** Self time per layer of every operation: a span's time minus the part
    * covered by the next layer down. Returns ops whose self times do not
    * add up to their wall time (within 5 ms + 1%), and the largest gap.
    */
  def selfTimes(): (Int, Double) = {
    val levels = Seq(Set("op"), Set("build", "plan", "execute"), Set("job"),
      Set("stage"), Set("task"))
    var bad = 0
    var worst = 0.0
    spans.groupBy(_.op).foreach { case (_, ss) =>
      ss.find(_.layer == "op").foreach { op =>
        val unions = levels.map(ls => Intervals.union(
          ss.filter(s => ls(s.layer)).map(s => (s.startNs, s.endNs)).toSeq))
        var sum = 0.0
        levels.indices.foreach { k =>
          val below = if (k + 1 < levels.size) unions(k + 1) else Nil
          ss.filter(s => levels(k)(s.layer)).groupBy(_.layer).foreach { case (layer, xs) =>
            val own = Intervals.union(xs.map(s => (s.startNs, s.endNs)).toSeq)
            val self = (Intervals.length(own) -
              Intervals.length(Intervals.intersect(own, below))) / 1e6
            ledger.add(s"self.${layer}_ms", self)
            sum += self
          }
        }
        val err = math.abs(sum - op.ms)
        worst = math.max(worst, err)
        if (err > 5.0 + 0.01 * op.ms) bad += 1
      }
    }
    (bad, worst)
  }

  /** Write every span, one JSON object a line. */
  def writeSpans(f: java.io.File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.sortBy(s => (s.op, s.startNs)).foreach { s =>
      w.println(s"""{"op":${s.op},"layer":"${s.layer}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Sorted disjoint interval sets over epoch ns. */
object Intervals {
  type I = Seq[(Long, Long)]
  def union(xs: I): I =
    xs.filter { case (s, e) => e > s }.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((ps, pe) :: rest, (s, e)) if s <= pe => (ps, math.max(pe, e)) :: rest
      case (acc, x) => x :: acc
    }.reverse
  def length(xs: I): Long = xs.map { case (s, e) => e - s }.sum
  def intersect(a: I, b: I): I =
    for ((s1, e1) <- a; (s2, e2) <- b; s = math.max(s1, s2); e = math.min(e1, e2)
         if e > s) yield (s, e)
}
