package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** A generated class is compiled at most once per JVM. Spark keys its
  * codegen cache by (context classloader, generated source), so a warm
  * re-run of a query compiles nothing unless the cache evicted the class,
  * a streaming drain ran under a classloader of its own, or the generated
  * source differs between executions (a literal or a stage id that
  * changes per run, say). Each of those shows up here as a compile on
  * the second run.
  */
class CodegenReuseSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = TestSession.sf

  /** Classes compiled while `body` ran (JVM-wide; suites run one at a time). */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** One execution as the benchmarks time it: the registered call, then a
    * sort-preserving `noop` write, with the SQL cache dropped first.
    */
  private def run(name: String): Unit = {
    spark.sharedState.cacheManager.clearCache()
    Registry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save()
  }

  test("the session sizes the codegen cache, shares it with drains, drops stage ids") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "512")
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
  }

  test("a second run of a query whose shuffle stages race compiles no class") {
    run("funnel_windowed")
    assert(compiles(run("funnel_windowed")) == 0)
  }

  for (replay <- Seq("streaming_replay_hourly", "streaming_sessions_state_replay",
      "streaming_sessionize_replay"))
    test(s"a second drain of $replay compiles no class") {
      run(replay)
      assert(compiles(run(replay)) == 0)
    }

  test("a second interleaved pass over the benchmark queries compiles no class") {
    // Both benchmark workloads, their queries interleaved.
    val pass = Vector("etl_quality_stats", "connected_components",
      "etl_bucketize", "tpch_q1", "triangle_count", "tpch_q6", "tpch_q18",
      "sessionize", "streaming_replay_hourly")
    pass.foreach(run)
    val perQuery = pass.reverse.map(q => q -> compiles(run(q)))
    assert(perQuery.forall(_._2 == 0),
      s"recompiled classes per query: ${perQuery.filter(_._2 > 0).mkString(", ")}")
  }
}
