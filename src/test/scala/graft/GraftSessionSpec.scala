package graft

import org.apache.spark.sql.SparkSession

/** The one-call session factory must yield a session where the whole
  * library surface works without further setup: extensions (pushdown
  * rule, TopK strategy, SQL functions) and the corpus reader contract.
  * The shared test session is itself built on [[GraftSession.configure]].
  */
class GraftSessionSpec extends SparkTestBase {

  /** The options a builder has accumulated, read off the
    * SparkSessionBuilder parent class — order-independent, unlike a
    * getOrCreate'd session, which ignores static confs once another suite
    * has created the JVM-wide session.
    */
  private def options(b: SparkSession.Builder): Map[String, String] = {
    val f = Iterator.iterate[Class[_]](b.getClass)(_.getSuperclass)
      .takeWhile(_ != null)
      .flatMap(_.getDeclaredFields)
      .find(_.getName.contains("options"))
      .getOrElse(fail("SparkSession.Builder options field not found"))
    f.setAccessible(true)
    f.get(b).asInstanceOf[scala.collection.mutable.Map[String, String]].toMap
  }

  test("GraftSession.configure sets every library conf on the builder") {
    val library = Map(
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")
    assert(options(GraftSession.builder()) == library)
    // the harness session: exactly the bench sizing on top of the
    // library confs, nothing else
    assert(options(GraftSession.local(3)) == library ++ Map(
      "spark.master" -> "local[3]",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.enabled" -> "false",
      "graft.cache.maxLiveCorpora" -> "64",
      "spark.ui.enabled" -> "false"))
  }

  test("GraftSession-configured getOrCreate yields a fully-wired session") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
    // injected SQL function resolves (GraftFunctions.inject via extensions)
    val m = spark.sql("SELECT term_counts(array('a','a','b')) tc").head()
      .getMap[String, Long](0)
    assert(m == Map("a" -> 2L, "b" -> 1L))
    // the TopK strategy plans the custom operator
    import org.apache.spark.sql.functions.{col, length}
    val docs = Tables.documents(spark, sf)
    val plan = graft.plans.GraftPlans.topKPerKey(
      docs.select(col("doc_id"), col("lang"), length(col("text")).as("n")),
      Seq("lang"), Seq("n" -> false, "doc_id" -> true), 3)
    assert(plan.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      plan.queryExecution.executedPlan.toString)
    assert(plan.count() > 0)
  }
}
