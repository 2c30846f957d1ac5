package perfbench

import org.apache.spark.sql.Row

/** `logs_read`: a seeded mix of SQL reads over a 1,000,000-row, 24 h,
  * 200-stream corpus held by the Loki stand-in. Every answer is checked
  * against Spark's answer to the same SQL over the same generated rows
  * as a cached in-memory relation (`logs_ref`: no connector, no pushdown).
  */
final class LogsRead(b0: Bench) extends Workload(b0) {
  val corpus: Gen.Corpus =
    Gen.Corpus(b.args.seed, rows = 1000000, spanS = Gen.DayS, nStreams = 200, chunks = 100)
  private var fx: LokiFixture = _
  private val reads = ReadMix.iterator(b.args.seed, corpus.spanS)

  def setup(): Unit = {
    val t0 = System.nanoTime()
    def lap(what: String): Unit = b.log(f"$what at ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val rows = corpus.all
    lap("corpus generated")
    fx = new LokiFixture(spark, rows)
    lap("stub seeded")
    // the reference relation regenerates the same chunks inside Spark
    val c = corpus
    val ref = spark.createDataFrame(
      spark.sparkContext.parallelize(0 until c.chunks, c.chunks)
        .flatMap(i => c.chunk(i).iterator.map(LokiFixture.row)),
      LokiFixture.Schema).coalesce(Runtime.getRuntime.availableProcessors()).cache()
    ref.createOrReplaceTempView("logs_ref")
    val Array(got) = spark.sql(
      s"SELECT count(*), sum(octet_length(line)), sum(unix_micros(timestamp) - ${Gen.T0S * 1000000L}) " +
        "FROM logs_ref").collect()
    val want = Row(rows.length.toLong, rows.map(_.line.length.toLong).sum,
      rows.map(e => Math.floorDiv(e.tsNs, 1000L) - Gen.T0S * 1000000L).sum)
    require(got == want, s"reference relation $got differs from the generated corpus $want")
    b.ownCacheBytes = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
    lap(s"reference cached (${b.ownCacheBytes >> 20} MB)")
    // warm-up: two blocks of the mix from their own seed; the JIT is still
    // settling after fewer (point reads kept speeding up over the first 80)
    ReadMix.iterator(b.args.seed + 7777777L, corpus.spanS).take(2 * ReadMix.Block.size)
      .zipWithIndex.foreach { case (r, i) => LokiFixture.read(b, fx, -1L - i, r)(_ => None) }
    lap("warm-up done")
  }

  /** What an answer's check needs: the rows of a LIMIT read (at most
    * 100), otherwise its row count and digest.
    */
  private def keep(r: Read, rows: Seq[Row]): Either[Seq[Row], Checks.Digest] =
    if (r.limit.isDefined) Left(rows) else Right(Checks.digest(rows.iterator))

  private def verify(r: Read, got: Either[Seq[Row], Checks.Digest]): Option[String] = {
    val want = spark.sql(r.sql("logs_ref", limited = false)).collect().toSeq
    (got match {
      case Left(rows) => Checks.limitedSubset(rows, want, r.limit.get)
      case Right(d) => Checks.sameDigest(d, Checks.digest(want.iterator))
    }).map(w => s"${r.cls}: $w -- ${r.sql("logs")}")
  }

  /** Answers of the timed reads, checked after the timed region. */
  private val pending = scala.collection.mutable.ArrayBuffer.empty[(Read, Either[Seq[Row], Checks.Digest])]

  def blockOps: Int = ReadMix.Block.size
  /** The median is the point reads' (12 of every 20). */
  override def primary(kind: String): Boolean = kind == "point"
  def nominalOpsPerS: Double = 10.0

  def op(id: Long): Outcome = {
    val r = reads.next()
    LokiFixture.read(b, fx, id, r) { rows => pending += r -> keep(r, rows); None }
  }

  /** The deferred checks, on as many threads as cores. */
  override def deferredFailures(): Seq[String] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    try {
      val jobs = pending.toList.map { case (r, got) => pool.submit(() => verify(r, got)) }
      pending.clear()
      jobs.flatMap(_.get())
    } finally pool.shutdown()
  }

  override def close(): Unit = if (fx != null) fx.stop()
}
