package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestBase {
  /** The one JVM-wide test session: the library's own configuration
    * ([[GraftSession.configure]]) plus small test sizing. Every suite —
    * FunSuites and ScalaCheck `Properties` alike — takes it from here:
    * getOrCreate is JVM-global and suite order is arbitrary, so a suite
    * that built its own session with fewer confs and won the race would
    * silently strip them from every later suite.
    *
    * `local[4,2]` = 4 threads with maxFailures=2, so task-retry semantics
    * are testable (plain `local[4]` fails the job on the first task
    * failure — the write path's at-least-once contract needs a real
    * failed-then-retried task to exercise).
    */
  lazy val session: SparkSession = GraftSession.configure(SparkSession.builder())
    .master("local[4,2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir",
      s"/tmp/graft_warehouse_${sys.props.getOrElse("user.name", "u")}")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** Shared local session for all suites. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  lazy val sf: String = "/root/testdata/sf0.001"

  def q(name: String): org.apache.spark.sql.DataFrame =
    SparkEntry.queries(name)(spark, sf)
}
