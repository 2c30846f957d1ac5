package graft

import org.apache.spark.sql.SparkSession

/** One-call session setup for the library — everything a reference user
  * needs when switching: the Catalyst extensions (Loki pushdown rule,
  * TopKPerKey strategy, SQL-callable native expressions), the UTC
  * session timezone the oracle/date semantics assume, and the corpus
  * parquet-reading contract ([[Tables.readerConfs]] — set at
  * construction so even reads issued before the first Tables call see
  * one timestamp surface).
  *
  * ```scala
  * val spark = GraftSession.builder().master("local[8]").getOrCreate()
  * // or decorate an existing builder:
  * val spark2 = GraftSession.configure(SparkSession.builder()).getOrCreate()
  * ```
  *
  * Deliberately NOT set here: shuffle partitions, AQE, memory — cluster
  * sizing belongs to the deployment, not the library. The bundled mains
  * all size their local session through [[local]].
  */
object GraftSession {

  /** Apply the library's session configuration to any builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
  // NOT set here: spark.sql.optimizer.excludedRules
  // (InferFiltersFromGenerate — see Tables.readerConfs). A static
  // builder .config would CLOBBER a deployment's own excluded-rules
  // list; the library instead MERGES the exclusion into the runtime
  // conf at every table load (readerConfs), which runs before any
  // graft query plans.

  /** A fresh pre-configured builder. */
  def builder(): SparkSession.Builder = configure(SparkSession.builder())

  /** The one session the bundled harness mains run on: [[builder]] sized
    * for a single local host, so dev timings and plans are the bench's.
    * `cpus` defaults to `SPARK_GRAFT_CPUS`, else the host's core count.
    */
  def local(cpus: Int = harnessCpus): SparkSession.Builder = builder()
    .master(s"local[$cpus]")
    // shuffle-partition count is sized to the DATA, not the core count:
    // at bench scale (≤100 MB inputs) 8 partitions keep every reduce task
    // well above the tiny-task floor — measured over the full 176-query
    // suite: 59.7 s warm / 111.8 s cold at 32 partitions vs 52.8 / 97.3
    // at 8 (4 was warm-worse at 56.4 / 94.8). Scan stages keep their own
    // split-derived parallelism either way. Production sizes the same
    // knob by target partition bytes (~128-200 MB each) — same
    // data-derived reasoning, different data volume.
    .config("spark.sql.shuffle.partitions", "8")
    // AQE off: AQE executes every shuffle stage as its own job, and a
    // job submission floors at ~0.1 s (measured: bare
    // spark.range(1).count() at local[32]) — across ~60 sub-second
    // queries that re-planning tax cost 8 s wall with zero benefit at
    // ≤100 MB inputs (measured 34.7 s → 26.6 s). Production sessions at
    // real scale keep AQE on (skew joins, coalescing).
    .config("spark.sql.adaptive.enabled", "false")
    // cache-registry budget sized to the harness: the gate's queries
    // share ~30 small cached relations at bench SF, and the default LRU
    // cap (12 — sized for memory-tight test JVMs) evicts and rebuilds
    // them every pass (PageRank's edge cache alone measured 2.6 s warm vs
    // 4-8 s rebuilt). Production sizes this to executor storage memory
    // like any cache budget.
    .config("graft.cache.maxLiveCorpora", "64")
    .config("spark.ui.enabled", "false")

  private def harnessCpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
}
