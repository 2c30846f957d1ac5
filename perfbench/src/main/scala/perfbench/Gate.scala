package perfbench

import java.io.File

import org.apache.spark.sql.DataFrame

/** `gate`: a fixed sample of the gate queries on the bundled sf0.01
  * corpus, in whole passes. A pass runs every sampled query once, in name
  * order, with its full answer written to the `noop` sink, after the
  * graft caches and Spark's cache are cleared. Its inputs (corpus, query
  * list, order) are fixed, so the seed does not change them: a seeded
  * order would move which query pays for a cache that several share. Set-up runs one
  * untimed pass that warms the JIT and checks every answer's row count
  * and digest against the reference recorded in `gate_reference.tsv`.
  */
final class Gate(b0: Bench) extends Workload(b0) {
  private val dir = new File("perfbench/data/sf0.01").getAbsolutePath
  private val refFile = new File("perfbench/gate_reference.tsv")

  /** Every sixth of the name-sorted gate queries, leaving out the `loki_`
    * connector rows and the queries that write scratch files outside the
    * working directory (`stream_*` drains and the partitioned-layout
    * join).
    */
  val names: Seq[String] = graft.SparkEntry.queries.keys.toSeq.sorted
    .filterNot(n => n.startsWith("loki_") || n.startsWith("stream_") ||
      n == "events_partition_pruned_join")
    .zipWithIndex.collect { case (n, i) if i % 6 == 0 => n }

  private lazy val queries = graft.SparkEntry.queries
  private var pos = 0
  private var warmChecks = Seq.empty[Option[String]]
  override def setupChecks: Seq[Option[String]] = warmChecks

  private def reference: Map[String, Checks.Digest] =
    scala.io.Source.fromFile(refFile, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, rows, hash) = l.split('\t')
        n -> Checks.Digest(rows.toLong, java.lang.Long.parseUnsignedLong(hash, 16))
      }.toMap

  private def answerDigest(n: String): Checks.Digest =
    Checks.digest(queries(n)(spark, dir).collect().iterator)

  private def clearCaches(): Unit = {
    graft.operators.CacheRegistry.clearSession(spark)
    graft.operators.DedupOps.clearCcSlots(spark)
    spark.catalog.clearCache()
  }

  /** The warm-up pass: one run of every sampled query, its answer
    * digested and checked (untimed; counted in set-up).
    */
  def setup(): Unit = {
    val ref = reference
    warmChecks = names.map { n =>
      val why =
        try ref.get(n) match {
          case None => Some("no reference recorded")
          case Some(want) => Checks.sameDigest(answerDigest(n), want)
        } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      why.map(w => s"gate $n: $w")
    }
    warmChecks.flatten.foreach(b.log)
  }

  def blockOps: Int = names.size
  def nominalOpsPerS: Double = 1.7

  def op(id: Long): Outcome = {
    if (pos == 0) clearCaches()
    val n = names(pos)
    pos = (pos + 1) % names.size
    val tr = b.tr
    val (plan, ns) = tr.op(id) {
      val df: DataFrame = tr.span("build")(queries(n)(spark, dir))
      val plan = tr.span("plan")(df.queryExecution.executedPlan)
      tr.span("execute")(df.write.format("noop").mode("overwrite").save())
      plan
    }
    tr.harvest(id)
    tr.planCounters(plan)
    Outcome(n, ns)
  }

  /** Record the reference (row count and digest per sampled query). */
  def recordReference(): Unit = {
    val w = new java.io.PrintWriter(refFile, "UTF-8")
    try {
      w.println("# gate reference: query, answer rows, order-independent digest (perfbench.Checks)")
      names.foreach { n =>
        val d = answerDigest(n)
        w.println(s"$n\t${d.rows}\t${d.hex}")
        b.log(s"$n ${d.rows} ${d.hex}")
      }
    } finally w.close()
  }
}
