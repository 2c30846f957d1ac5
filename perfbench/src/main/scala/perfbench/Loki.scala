package perfbench

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

import graft.sources.loki.{LokiDataSource, LokiMetricScan}
import graft.sources.loki.testkit.LokiStubServer

/** The in-process Loki stand-in, seeded directly, and the connector table
  * `logs` over it. The stub models Loki's 5,000-entry cap and a 2 ms
  * round trip on every query_range and index/stats request.
  */
final class LokiFixture(spark: SparkSession, rows: Array[LogEntry]) {
  val stub = new LokiStubServer
  stub.serverDefaultLimit = LokiFixture.EntryCap
  stub.queryLatencyMs = LokiFixture.RttMs
  stub.statsLatencyMs = LokiFixture.RttMs
  stub.start()
  stub.seed(ArraySeq.unsafeWrapArray(rows.map(e => stub.LogRow(e.tsNs, e.labels, e.line))))
  spark.read.format("loki")
    .option("endpoint", stub.endpoint)
    .option("default_label", "app")
    .option("query_limit", LokiFixture.EntryCap.toString)
    .load().createOrReplaceTempView("logs")

  /** Forget the requests recorded so far (before each operation). */
  def resetRecords(): Unit = {
    stub.ranges.synchronized(stub.ranges.clear())
    stub.queries.synchronized(stub.queries.clear())
    stub.pushBodies.synchronized(stub.pushBodies.clear())
  }
  def ranges: Seq[(String, Option[Long], Option[Long])] =
    stub.ranges.synchronized(stub.ranges.toList)
  def pushBodies: Seq[String] = stub.pushBodies.synchronized(stub.pushBodies.toList)

  /** (requests, cache hits, serving ns) over every stub in the process. */
  def counters: (Long, Long, Long) =
    (LokiStubServer.reqs.get, LokiStubServer.cacheHits.get, LokiStubServer.serveNs.get)

  def stop(): Unit = stub.stop()
}

object LokiFixture {
  val EntryCap = 5000
  val RttMs = 2L

  def row(e: LogEntry): Row =
    Row(DateTimeUtils.toJavaTimestamp(Math.floorDiv(e.tsNs, 1000L)), e.labels, e.line)

  /** Entries in a push body (`["<ns>",` opens each one; quotes inside
    * lines are escaped, so lines cannot forge it).
    */
  private val entryRe = java.util.regex.Pattern.compile("\\[\"\\d+\",")
  def pushedEntries(body: String): Long = {
    val m = entryRe.matcher(body)
    var n = 0L
    while (m.find()) n += 1
    n
  }

  /** One SQL read over `logs`: planned, executed and collected as the
    * client's answer, then checked (untimed) by `check`.
    */
  def read(b: Bench, fx: LokiFixture, id: Long, r: Read)(
      check: Seq[Row] => Option[String]): Outcome = {
    val spark = b.spark
    val tr = b.tr
    fx.resetRecords()
    val c0 = fx.counters
    val ((plan, rows), ns) = tr.op(id) {
      val df = tr.span("build")(spark.sql(r.sql("logs")))
      val plan = tr.span("plan")(df.queryExecution.executedPlan)
      (plan, tr.span("execute")(df.collect().toSeq))
    }
    if (tr.enabled) {
      val c1 = fx.counters
      tr.harvest(id)
      tr.planCounters(plan)
      stubCounters(tr, c0, c1)
      if (r.cls == "metric" || r.cls == "count") {
        tr.ledger.add("plan.agg_reads", 1)
        if (plan.exists {
          case s: BatchScanExec => s.scan.isInstanceOf[LokiMetricScan]
          case _ => false
        }) tr.ledger.add("plan.metric_pushed_reads", 1)
      }
      tr.replayReads(id, plan, fx.stub.endpoint, fx.ranges, rows.size)
    }
    Outcome(r.cls, ns, check(rows))
  }

  def stubCounters(tr: Tracer, c0: (Long, Long, Long), c1: (Long, Long, Long)): Unit = {
    tr.ledger.add("stub.requests", c1._1 - c0._1)
    tr.ledger.add("stub.cache_hits", c1._2 - c0._2)
    tr.ledger.add("stub.serve_ms", (c1._3 - c0._3) / 1e6)
  }

  val Schema = LokiDataSource.LOG_SCHEMA
}
