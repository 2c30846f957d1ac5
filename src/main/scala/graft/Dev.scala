package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Dev harness for iterating on named gate queries without the full
  * bench, on the bench's own session ([[GraftSession.local]]) so its
  * timings and plans are the benched ones:
  *
  * {{{
  * runMain graft.Dev time  [--cold] [--iters=N] [name ...]
  * runMain graft.Dev prof  [--cold] [name ...]
  * runMain graft.Dev plans [--warm] <outDir> <suffix> [name ...]
  * }}}
  *
  *   - `time`: one warm-up run, then N timed runs (default 3) per query;
  *     prints min/median/max seconds.
  *   - `prof`: one warm-up run, then one profiled run per query; prints
  *     every submitted stage's wall time, summed task time, task count,
  *     input and shuffle read/write bytes, plus the Loki stub's serving
  *     counters.
  *   - `plans`: writes `explain("formatted")` of each query to
  *     `<outDir>/<name>_<suffix>.txt` — the per-round plan evidence.
  *     `--warm` executes every query once first, so the dump shows the
  *     warm plans the bench's second pass runs (cached relations as
  *     InMemoryRelation) instead of the full build lineage.
  *
  * `--cold` clears every graft cache and result memo before each timed
  * run: the bench's cache-cold pass on a JIT-warm JVM. With no names,
  * every gate query runs. The corpus directory is `SPARK_GRAFT_SF_DIR`
  * (required), and `GRAFT_CONF="k=v,k2=v2"` lands in the runtime conf for
  * experiments.
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val (flags, rest) = args.toSeq.partition(_.startsWith("--"))
    val cold = flags.contains("--cold")
    val iters = flags.collectFirst {
      case f if f.startsWith("--iters=") => f.stripPrefix("--iters=").toInt
    }.getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name the corpus directory"))
    val spark = GraftSession.local().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    applyConf(spark)
    def names(given: Seq[String]) =
      if (given.nonEmpty) given else SparkEntry.queries.keys.toSeq.sorted
    def run(n: String): Unit = SparkEntry.queries(n)(spark, sfDir).count(): Unit
    def warmUp(ns: Seq[String]): Unit = ns.foreach { n =>
      try run(n)
      catch { case e: Throwable => println(s"$n WARMUP-FAILED: ${e.getMessage}") }
    }
    def timed(n: String): Double = {
      if (cold) {
        graft.operators.CacheRegistry.clearSession(spark)
        graft.operators.DedupOps.clearCcSlots(spark)
        spark.sqlContext.clearCache()
      }
      System.gc()
      val t0 = System.nanoTime()
      try run(n)
      catch { case e: Throwable => println(s"$n FAILED: ${e.getMessage}") }
      (System.nanoTime() - t0) / 1e9
    }
    rest match {
      case "time" +: given =>
        val ns = names(given)
        warmUp(ns)
        val tag = if (cold) "[time-cold]" else "[time]"
        ns.foreach { n =>
          val ts = (1 to iters).map(_ => timed(n)).sorted
          println(f"$tag $n%-32s min=${ts.head}%.3f med=${ts(iters / 2)}%.3f max=${ts.last}%.3f")
        }
      case "prof" +: given =>
        val ns = names(given)
        warmUp(ns)
        profile(spark, ns, timed)
      case "plans" +: outDir +: suffix +: given =>
        val ns = names(given)
        if (flags.contains("--warm")) warmUp(ns)
        dumpPlans(spark, sfDir, Paths.get(outDir), suffix, ns)
      case _ =>
        System.err.println(
          "usage: graft.Dev time|prof [--cold] [--iters=N] [name ...] | " +
            "plans [--warm] <outDir> <suffix> [name ...]")
    }
    graft.operators.ConnectorOps.shutdownStubs()
    spark.stop()
  }

  /** Applies `GRAFT_CONF="k=v,k2=v2"` to the session's runtime conf. */
  def applyConf(spark: SparkSession): Unit =
    sys.env.get("GRAFT_CONF").foreach(_.split(",").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); spark.conf.set(k, v) })

  private case class StageRec(
      id: Int, name: String, tasks: Int,
      wallMs: Long, taskMs: Long, shufReadB: Long, shufWriteB: Long,
      inputB: Long)

  private def profile(
      spark: SparkSession, names: Seq[String], timed: String => Double): Unit = {
    val recs = mutable.Map.empty[Int, StageRec]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val si = s.stageInfo
        val m = si.taskMetrics
        val wall = (for {
          sub <- si.submissionTime; done <- si.completionTime
        } yield done - sub).getOrElse(0L)
        recs(si.stageId) = StageRec(si.stageId, si.name, si.numTasks, wall,
          m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead)
      }
    })
    def drainBus(): Unit = org.apache.spark.graft.ListenerShim
      .waitUntilListenerBusEmpty(spark.sparkContext, 10000)
    names.foreach { n =>
      drainBus()
      recs.clear()
      graft.sources.loki.testkit.LokiStubServer.resetStats()
      val secs = timed(n)
      drainBus()
      val rows = recs.values.toSeq.sortBy(_.id)
      println(f"== $n%-32s total=$secs%.3f s  stages=${rows.size}  " +
        f"stageWallSum=${rows.map(_.wallMs).sum / 1e3}%.3f  " +
        graft.sources.loki.testkit.LokiStubServer.statsLine)
      rows.foreach { r =>
        println(f"   s${r.id}%-4d ${r.wallMs}%5d ms wall ${r.taskMs}%6d ms task " +
          f"${r.tasks}%3d t  in=${r.inputB / 1024}%6d K  sr=${r.shufReadB / 1024}%6d K " +
          f"sw=${r.shufWriteB / 1024}%6d K  ${r.name.take(90)}")
      }
    }
  }

  private def dumpPlans(spark: SparkSession, sfDir: String,
      outDir: java.nio.file.Path, suffix: String, names: Seq[String]): Unit = {
    Files.createDirectories(outDir)
    names.foreach { n =>
      try {
        val plan = SparkEntry.queries(n)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), plan)
        println(s"[plans] wrote ${n}_$suffix.txt")
      } catch {
        case e: Throwable => println(s"[plans] $n FAILED: ${e.getMessage}")
      }
    }
  }
}
