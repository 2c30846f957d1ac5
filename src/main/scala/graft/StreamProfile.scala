package graft

import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Diagnostic: drain one streaming shape and dump per-microbatch
  * durationMs from StreamingQueryProgress, to see where bounded-drain
  * wall-clock goes (triggerExecution vs addBatch vs state commit vs
  * walCommit). `runMain graft.StreamProfile <sfDir> <shape> [statePartitions]`
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val shape = args(1)
    val parts = if (args.length > 2) args(2) else "2"
    val builder = GraftSession.local()
    // experiment: skip the CRC sidecar files Hadoop's checksummed
    // LocalFileSystem writes for every checkpoint/state file
    if (sys.env.get("SPARK_GRAFT_RAWFS").contains("1"))
      builder.config("spark.hadoop.fs.file.impl",
        "org.apache.hadoop.fs.RawLocalFileSystem")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // state-store partition count is fixed from this conf at query start
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    // streaming queries capture the session conf at start
    Dev.applyConf(spark)

    import graft.streaming.StreamingOps._
    val iters = sys.env.getOrElse("SPARK_GRAFT_PROF_ITERS", "1").toInt
    for (it <- 1 to iters) {
    val t0 = System.nanoTime()
    val (df, mode, flush) = shape match {
      case "chained" =>
        (streamStreamJoinAggChained(spark, sfDir), OutputMode.Append(), true)
      case "join" =>
        (streamStreamClickPurchase(spark, sfDir), OutputMode.Append(), false)
      case "session" =>
        (sessionWindows(spark, sfDir), OutputMode.Append(), true)
      case "hourly" =>
        (hourlyWindow(spark, sfDir), OutputMode.Update(), false)
      case "dedup_chained" =>
        (dedupAggChainedStream(spark, sfDir), OutputMode.Append(), true)
    }
    // must be set before start(): the flag is read at query planning
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", flush.toString)
    val ckpt = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("/dev/shm"), "graft-prof-").toFile
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName("prof")
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"[prof] $shape wall=$wall%.3f s (incl. plan+start), rows=${spark.table("prof").count()}")
    q.recentProgress.foreach { p =>
      println(s"[prof] batch=${p.batchId} rows=${p.numInputRows} durationMs=${p.durationMs}")
      p.stateOperators.foreach { so =>
        println(s"[prof]   stateOp=${so.operatorName} commitMs=${so.commitTimeMs} rowsTotal=${so.numRowsTotal} mem=${so.memoryUsedBytes}")
      }
    }
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(ckpt)
    }
    spark.stop()
  }
}
