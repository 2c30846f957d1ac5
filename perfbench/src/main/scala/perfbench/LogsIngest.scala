package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.sources.loki.LokiWrite
import graft.sources.loki.testkit.LokiStubServer

/** `logs_ingest`: a fresh stand-in seeded with 200,000 rows, then a seeded
  * closed-loop mix of `LokiWrite.insert` batches (70% of 1,000 rows, 30%
  * of 20,000) and read-backs (`count(*)` of an earlier batch by its
  * label), three writes to one read.
  */
final class LogsIngest(b0: Bench) extends Workload(b0) {
  val corpus: Gen.Corpus =
    Gen.Corpus(b.args.seed, rows = 200000, spanS = Gen.DayS, nStreams = 200, chunks = 20)
  private var fx: LokiFixture = _
  private var scratch: LokiStubServer = _
  private val ops = IngestMix.iterator(b.args.seed)
  private val written = mutable.ArrayBuffer.empty[(Int, Int)]
  private var warmChecks = Seq.empty[Option[String]]
  override def setupChecks: Seq[Option[String]] = warmChecks

  def setup(): Unit = {
    val t0 = System.nanoTime()
    fx = new LokiFixture(spark, corpus.all)
    b.log(f"stub seeded at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    scratch = new LokiStubServer
    scratch.start()
    // warm-up: one size block of batches of their own (ids past any the
    // run reaches), each read back and checked like the rest
    val warm = IngestMix.SizeBlock.zipWithIndex.map { case (size, i) => (900001 + i) -> size }
    warmChecks = warm.flatMap { case (batch, size) =>
      Seq(write(-batch.toLong, batch, size), readBack(-batch.toLong - 1000000L, batch, size))
        .map(o => o.error.map(w => s"warm-up ${o.kind}: $w"))
    }
    b.log(f"warm-up done at ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  private def write(id: Long, batch: Int, size: Int): Outcome = {
    val tr = b.tr
    val rows = IngestMix.batchRows(b.args.seed, batch, size, corpus.streamSet)
      .map(LokiFixture.row).toSeq.asJava
    fx.resetRecords()
    val c0 = fx.counters
    val (count, ns) = tr.op(id) {
      val df = tr.span("build")(spark.createDataFrame(rows, LokiFixture.Schema))
      tr.span("execute")(LokiWrite.insert(df, fx.stub.endpoint).collect()(0).getLong(0))
    }
    val bodies = fx.pushBodies
    val pushed = bodies.map(LokiFixture.pushedEntries).sum
    if (tr.enabled) {
      LokiFixture.stubCounters(tr, c0, fx.counters)
      tr.harvest(id)
      tr.ledger.add("write.rows_written", pushed)
      tr.replayPushes(id, scratch, bodies)
    }
    val err = Checks.sameCount("insert count", count, size)
      .orElse(Checks.sameCount("rows written", pushed, size))
    Outcome(if (size == IngestMix.Small) "write_1k" else "write_20k", ns, err)
  }

  private def readBack(id: Long, batch: Int, size: Int): Outcome = {
    val start = IngestMix.batchStartS(batch)
    val r = ReadMix.countBatch(batch, start, start + IngestMix.BatchSpanS)
    LokiFixture.read(b, fx, id, r) { rows =>
      rows match {
        case Seq(row: Row) => Checks.sameCount(s"batch b$batch count", row.getLong(0), size)
        case other => Some(s"${other.size} rows, expected 1")
      }
    }.copy(kind = "read")
  }

  /** 40 operations hold 30 writes: whole size blocks (21 small, 9 large)
    * and whole write/read blocks.
    */
  def blockOps: Int = 40
  /** The median is the 1,000-row writes' (21 of every 40 operations):
    * 20,000-row writes and read-backs form clusters of their own.
    */
  override def primary(kind: String): Boolean = kind == "write_1k"
  def nominalOpsPerS: Double = 5.0

  def op(id: Long): Outcome = ops.next() match {
    case IngestMix.Write(batch, size) =>
      val o = write(id, batch, size)
      written += batch -> size
      o
    case IngestMix.ReadBack(pick) =>
      val (batch, size) = written((pick * written.size).toInt)
      readBack(id, batch, size)
  }

  override def close(): Unit = {
    if (fx != null) fx.stop()
    if (scratch != null) scratch.stop()
  }
}
