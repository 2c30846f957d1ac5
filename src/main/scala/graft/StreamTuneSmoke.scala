package graft

/** Bounded streaming-cost experiment (round-7 verdict item 6): the
  * streaming gate family costs ~12 s at sf0.1 against trivial batch
  * oracles, all of it micro-batch/state-commit machinery on bounded
  * drains. This main times the three heaviest rows
  * (stream_stream_agg_chained, stream_stream_join,
  * stream_dedup_agg_chained) under candidate state configurations:
  *
  *   - hdfs: the default HDFSBackedStateStoreProvider (checkpoint on
  *     tmpfs — the shipped harness config)
  *   - rocksdb: RocksDBStateStoreProvider (the production pick for LARGE
  *     state: state off-heap, incremental snapshots — but each partition
  *     pays a native DB open/commit/close per micro-batch, which is pure
  *     overhead when state is tiny and the drain is bounded)
  *   - hdfs-sp1 / rocksdb-sp1: same with 1 state partition (the
  *     per-store commit tax scales with partitions on a bounded drain)
  *
  * Not part of the driver gate: `runMain graft.StreamTuneSmoke [sfDir]`
  * → findings recorded in BASELINE.md §streaming.
  */
object StreamTuneSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val heavy = Seq(
      "stream_stream_agg_chained", "stream_stream_join",
      "stream_dedup_agg_chained")
    val qs = SparkEntry.queries.filter { case (n, _) => heavy.contains(n) }

    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val rocks =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val configs: Seq[(String, Map[String, String])] = Seq(
      "hdfs" -> Map.empty,
      "rocksdb" -> Map(providerKey -> rocks),
      "hdfs-sp1" -> Map("graft.stream.statePartitions" -> "1"),
      "rocksdb-sp1" -> Map(providerKey -> rocks,
        "graft.stream.statePartitions" -> "1"))

    // one warm-up pass (JIT/codegen) before any timed config
    qs.foreach { case (_, fn) => fn(spark, sfDir).count() }

    configs.foreach { case (name, confs) =>
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        // two passes, per-query min (bench estimator)
        val times = (1 to 2).map { _ =>
          qs.toSeq.sortBy(_._1).map { case (qn, fn) =>
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            qn -> (System.nanoTime() - t0) / 1e9
          }
        }
        val best = times.head.zip(times(1)).map { case ((qn, a), (_, b)) =>
          qn -> math.min(a, b)
        }
        println(s"[streamtune] $name total=${f"${best.map(_._2).sum}%.2f"}s " +
          best.map { case (q, t) => s"$q=${f"$t%.2f"}" }.mkString(" "))
      } finally {
        confs.keys.foreach(spark.conf.unset)
      }
    }
    spark.stop()
  }
}
