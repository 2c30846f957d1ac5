package graft

import org.apache.spark.sql.functions._

import graft.sources.loki.testkit.LokiStubServer

/** Slice-balance smoke for the connector's `partitions=N` time-range
  * split: seeds a stub with a BURSTY corpus (80% of rows inside one day
  * of a 30-day window — the realistic incident-spike shape) and a uniform
  * corpus, reads each back through 8 time slices under BOTH placement
  * modes, and prints rows per slice + plan-time probe counts.
  * `split=width` is the reference-shaped scale-out (disjoint-range
  * composable, zero coordination) — on bursty data the spike slice
  * dominates the scan's wall clock (measured max/mean = 4.00 here).
  * `split=stats` (round 8) probes Loki's `index/stats` row counts and
  * places boundaries on cumulative count (LokiScan.statsBounds) —
  * measured max/mean = 1.11 on the same bursty corpus, at the cost of
  * O(clusters·log) cheap index-only probes paid once at plan time.
  * Not part of the driver gate:
  * `runMain graft.SliceSmoke [rows]` → table in BASELINE.md.
  */
object SliceSmoke {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100000)
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val base = 1704067200000000L // 2024-01-01 00:00:00 UTC in µs
    val day = 86400000000L

    def corpus(bursty: Boolean) = {
      val ts =
        if (bursty)
          // 80% of rows land inside day 2 (3.3% of the window); the rest
          // spread across the 30 days — an incident-spike shape
          when(col("id") % 10 < 8, lit(base + day) + (col("id") * 997L) % day)
            .otherwise(lit(base) + (col("id") % 30) * day + (col("id") * 131L) % day)
        else
          lit(base) + (col("id") % 30) * day + (col("id") * 131L) % day
      spark.range(n).select(
        timestamp_micros(ts).as("timestamp"),
        map(lit("app"), lit("smoke")).as("labels"),
        concat(lit("v="), col("id")).as("line"))
    }

    Seq("bursty" -> true, "uniform" -> false).foreach { case (name, bursty) =>
      val stub = new LokiStubServer
      stub.start()
      try {
        corpus(bursty).write.format("loki")
          .option("endpoint", stub.endpoint)
          .option("push_batch_size", "8192")
          .mode("append").save()
        Seq("width", "stats").foreach { split =>
          val probes0 = stub.statsCalls.get()
          val scan = spark.read.format("loki")
            .option("endpoint", stub.endpoint)
            .option("default_label", "app")
            .option("partitions", "8")
            .option("split", split)
            .load()
            .filter(
              col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-01-31 00:00:00").cast("timestamp"))
          val t0 = System.nanoTime()
          val per = scan
            .select(spark_partition_id().as("slice"))
            .groupBy("slice").count().orderBy("slice")
            .collect().map(r => (r.getInt(0), r.getLong(1)))
          val secs = (System.nanoTime() - t0) / 1e9
          val counts = per.map(_._2)
          val total = counts.sum
          val probes = stub.statsCalls.get() - probes0
          println(s"[slice] $name split=$split rows=$total wall=${f"$secs%.2f"}s " +
            s"probes=$probes " +
            s"per-slice=${per.map { case (i, c) => s"$i:$c" }.mkString(",")} " +
            f"max/mean=${counts.max.toDouble * counts.length / total}%.2f")
        }
        // real-endpoint-latency leg (round-8 verdict item 4): 20 ms RTT
        // per index/stats probe — the serial bisection would pay
        // ~probes×20 ms ≈ 9 s of plan time; the level-synchronous
        // parallel frontier must plan in under a second while keeping
        // the balance. Narrower window than the legs above so the
        // cross-instance bounds cache can't serve a pre-RTT placement.
        if (bursty) {
          stub.statsLatencyMs = 20L
          val probes0 = stub.statsCalls.get()
          val scan = spark.read.format("loki")
            .option("endpoint", stub.endpoint)
            .option("default_label", "app")
            .option("partitions", "8")
            .option("split", "stats")
            .load()
            .filter(
              col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
              col("timestamp") < lit("2024-01-30 00:00:00").cast("timestamp"))
          val t0 = System.nanoTime()
          val per = scan
            .select(spark_partition_id().as("slice"))
            .groupBy("slice").count().orderBy("slice")
            .collect().map(r => (r.getInt(0), r.getLong(1)))
          val secs = (System.nanoTime() - t0) / 1e9
          stub.statsLatencyMs = 0L
          val counts = per.map(_._2)
          val probes = stub.statsCalls.get() - probes0
          println(s"[slice] $name split=stats rtt=20ms rows=${counts.sum} " +
            f"wall=$secs%.2fs probes=$probes " +
            f"max/mean=${counts.max.toDouble * counts.length / counts.sum}%.2f")
        }
        // paging-at-RTT leg (round 10): an unbounded paged scan is a
        // serial page walk per slice — pages × RTT of wall. partitions=N
        // divides the walk into N parallel disjoint windows; at 20 ms RTT
        // and ~2000-row pages over the same corpus, 8 slices should cut
        // the wall close to 8× (each slice pages its own window
        // concurrently, the stub serves handlers on a thread pool).
        if (!bursty) {
          stub.queryLatencyMs = 20L
          try {
            Seq(1, 8).foreach { parts =>
              val reqs0 = stub.ranges.synchronized(stub.ranges.size)
              val scan = spark.read.format("loki")
                .option("endpoint", stub.endpoint)
                .option("default_label", "app")
                .option("partitions", parts.toString)
                .option("query_limit", "2000")
                .load()
                .filter(
                  col("timestamp") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
                  col("timestamp") < lit("2024-01-31 00:00:00").cast("timestamp"))
              val t0 = System.nanoTime()
              val rows = scan.count()
              val secs = (System.nanoTime() - t0) / 1e9
              val reqs = stub.ranges.synchronized(stub.ranges.size) - reqs0
              println(f"[slice] paged rtt=20ms partitions=$parts rows=$rows " +
                f"pages=$reqs wall=$secs%.2fs")
            }
          } finally stub.queryLatencyMs = 0L
        }
        // decode leg (round 11): the same single-request response drained
        // through the row reader (per-row Group materialization) vs the
        // columnar reader (column chunks → OnHeapColumnVectors, 4096-row
        // batches — the reference's Arrow-batch shape, scan.rs:200-213).
        // Same wire bytes both ways (the stub's response cache is warm
        // after the first fetch), so the delta is pure decode cost.
        if (!bursty) {
          import graft.sources.loki.{LokiColumnarPartitionReader,
            LokiDataSource, LokiInputPartition, LokiPartitionReader}
          val part = LokiInputPartition(
            stub.endpoint, "{app=~\".+\"}",
            Some(base * 1000L), Some((base + 31 * day) * 1000L),
            None, None, LokiDataSource.LOG_SCHEMA)
          def best(reps: Int)(drain: () => Long): (Long, Double) = {
            var rows = 0L
            val t = (1 to reps).map { _ =>
              val t0 = System.nanoTime()
              rows = drain()
              (System.nanoTime() - t0) / 1e9
            }.min
            (rows, t)
          }
          val (rowRows, rowSecs) = best(3) { () =>
            val r = new LokiPartitionReader(part)
            var c = 0L
            try { while (r.next()) { r.get(); c += 1 } } finally r.close()
            c
          }
          val (colRows, colSecs) = best(3) { () =>
            val r = new LokiColumnarPartitionReader(part)
            var c = 0L
            try { while (r.next()) c += r.get().numRows() } finally r.close()
            c
          }
          require(rowRows == colRows,
            s"decode paths disagree: row=$rowRows columnar=$colRows")
          println(f"[slice] decode rows=$rowRows row=$rowSecs%.3fs " +
            f"columnar=$colSecs%.3fs speedup=${rowSecs / colSecs}%.2fx")
          // paged twin (round 12): the same corpus walked in 2000-row
          // forward pages through the row pager (held-run queue of
          // materialized InternalRows) vs the columnar pager (whole-page
          // vector decode, prefix-batch emission). Same pages both ways;
          // the delta is decode + held-run bookkeeping.
          import graft.sources.loki.LokiColumnarPagedReader
          val paged = part.copy(limit = None, pageSize = Some(2000))
          val (rowPRows, rowPSecs) = best(3) { () =>
            val r = new LokiPartitionReader(paged)
            var c = 0L
            try { while (r.next()) { r.get(); c += 1 } } finally r.close()
            c
          }
          val (colPRows, colPSecs) = best(3) { () =>
            val r = new LokiColumnarPagedReader(paged)
            var c = 0L
            try { while (r.next()) c += r.get().numRows() } finally r.close()
            c
          }
          require(rowPRows == colPRows && rowPRows == rowRows,
            s"paged decode paths disagree: row=$rowPRows columnar=$colPRows")
          println(f"[slice] decode-paged rows=$rowPRows row=$rowPSecs%.3fs " +
            f"columnar=$colPSecs%.3fs speedup=${rowPSecs / colPSecs}%.2fx")
        }
      } finally stub.stop()
    }
    spark.stop()
  }
}
