package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.GraphOps

/** Iterative-graph behaviors not visible to the per-query oracle gate:
  * convergence-checked modes and the reliable-checkpoint configuration.
  */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = TestSession.sf

  test("converged connected components equal the fixed-iteration labels") {
    val fixed = GraphOps.connectedComponents(spark, sf, 5).collect()
    val (rounds, convergedDf) = GraphOps.connectedComponentsConverged(spark, sf)
    // Converged well under the cap (diameter ~3 → a handful of rounds),
    // and the labels agree with the oracle-checked fixed-iteration mode.
    assert(rounds > 1 && rounds < 50, s"rounds=$rounds")
    assert(convergedDf.collect().toSeq == fixed.toSeq)
  }

  test("converged pagerank equals the fixed-iteration twin at its own fixed point") {
    // The registered pagerank_conv entry has a full oracle that replays
    // its stopping decision (pagerankConvergedOracleSql). Independently of
    // it, replaying the oracle-checked fixed-iteration pagerank for exactly
    // the iteration count the converged mode chose must reproduce it
    // bit-for-bit — integer fixed-point updates make both paths
    // deterministic.
    val (iters, convergedDf) = GraphOps.pagerankConverged(spark, sf)
    assert(iters > 1, s"iters=$iters")
    val fixed = GraphOps.pagerank(spark, sf, iters).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val converged = convergedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(converged == fixed,
      "converged scores diverge from the fixed-iteration twin")
  }

  test("reliable checkpointing yields identical results when configured") {
    val default = GraphOps.connectedComponents(spark, sf, 3).collect()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set("graft.checkpoint.dir", dir)
    try {
      val reliable = GraphOps.connectedComponents(spark, sf, 3).collect()
      assert(reliable.toSeq == default.toSeq)
    } finally spark.conf.unset("graft.checkpoint.dir")
  }

  test("pagerank_topk is the top slice of the full pagerank output") {
    val full = GraphOps.pagerank(spark, sf, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (node, score) => (-score, node) }
      .take(20).toSeq
    val topk = GraphOps.pagerankTopK(spark, sf, 10, 20).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(topk == full)
  }

  test("kcore: converged peel equals fixed rounds, prunes, and meets the bound") {
    val fixed = GraphOps.kcore(spark, sf, 60, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (rounds, convergedDf) = GraphOps.kcoreConverged(spark, sf, 60)
    val converged = convergedDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rounds >= 1 && converged == fixed)
    // Every survivor meets the degree bound once converged, and peeling
    // actually removed something on this graph (min degree 49 < 60).
    assert(converged.forall(_._2 >= 60))
    val totalNodes = GraphOps.degrees(spark, sf).count()
    assert(converged.length < totalNodes && converged.nonEmpty)
  }

  test("boruvka forest matches a serial Kruskal replay") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
    val wEdges = li.as("a")
      .join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .agg(count(lit(1)).as("w"))
      .collect().map(r => (r.getLong(2), r.getLong(0), r.getLong(1)))
    val nodes = wEdges.flatMap(e => Seq(e._2, e._3)).distinct
    // Serial Kruskal with union-find over the SAME (w, src, dst) order.
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    var kEdges = 0L; var kWeight = 0L
    wEdges.sortBy(identity).foreach { case (w, a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(ra) = rb; kEdges += 1; kWeight += w }
    }
    val row = GraphOps.boruvkaMsf(spark, sf).collect().head
    assert(row.getLong(0) == nodes.length.toLong)
    assert(row.getLong(1) == kEdges, s"mst edges ${row.getLong(1)} vs $kEdges")
    assert(row.getLong(2) == nodes.length - kEdges)
    assert(row.getLong(3) == kWeight, s"weight ${row.getLong(3)} vs $kWeight")
  }
}
