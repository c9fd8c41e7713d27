package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{AudienceOps, GraphOps, SampleOps}

/** Differential checks for BFS/SSSP, the landmark BFS, the A/B readout, and the Gini
  * diversity audit at sf0.001 against naive recomputes.
  */
class PathfindingSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = TestSession.sf

  /** Round-bounded min-plus relaxation of the symmetrized `edges`
    * (src, dst, cost) from distance 0 at every node of `seeds`.
    */
  private def relaxNaive(edges: Seq[(Long, Long, Long)], seeds: Set[Long],
      rounds: Int): Map[Long, Long] = {
    val sym = edges ++ edges.map(e => (e._2, e._1, e._3))
    var dist = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val relaxed = sym.flatMap { case (a, b, c) =>
        dist.get(a).map(d => b -> (d + c))
      }.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).min }
      dist = (dist.keySet ++ relaxed.keySet).map { n =>
        n -> math.min(dist.getOrElse(n, Long.MaxValue),
          relaxed.getOrElse(n, Long.MaxValue))
      }.toMap
    }
    dist
  }

  private def nodesOf(edges: Seq[(Long, Long, Long)]): Seq[Long] =
    edges.flatMap(e => Seq(e._1, e._2)).distinct

  /** The seed cohort of [[GraphOps.bfsHops]] and [[GraphOps.ssspWeighted]]. */
  private def cohort(edges: Seq[(Long, Long, Long)]): Set[Long] =
    nodesOf(edges).filter(_ % 97 == 0).toSet

  test("bfs hops matches naive round-bounded relaxation") {
    val es = GraphOps.edges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), 1L))
    val want = relaxNaive(es, cohort(es), 6)
    val got = GraphOps.bfsHops(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    assert(got.values.exists(_ == 0L) && got.values.exists(_ > 0L))
  }

  test("weighted sssp matches naive Bellman-Ford rounds") {
    val li: Seq[(Long, Long)] = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // Row-level pair multiplicity (NOT distinct parts per order): a part
    // listed twice in an order doubles its pairs' weight, exactly as the
    // self-join count does.
    val pairs: Seq[(Long, Long)] = li.groupBy(_._1).values.toSeq.flatMap {
      xs: Seq[(Long, Long)] =>
        val ps = xs.map(_._2)
        for (a <- ps; b <- ps if a < b) yield (a, b)
    }
    val es = pairs.groupBy(identity).map { case ((a, b), dup) =>
      (a, b, 1000000L / dup.size)
    }.toSeq
    val want = relaxNaive(es, cohort(es), 6)
    val got = GraphOps.ssspWeighted(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // Weighted distances refine BFS: any reached node is BFS-reachable.
    val hops = GraphOps.bfsHops(spark, sf).collect().map(_.getLong(0)).toSet
    assert(got.keySet == hops)
  }

  test("harmonic centrality matches a naive BFS from each landmark") {
    val es = GraphOps.edges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), 1L)).toSeq
    // The 8 lowest node ids, 4 rounds each; a landmark's own row is out.
    val reached = nodesOf(es).sorted.take(8)
      .flatMap(seed => relaxNaive(es, Set(seed), 4))
      .filter(_._2 > 0L)
    val want = reached.groupBy(_._1).map { case (node, hs) =>
      node -> (hs.size.toLong, hs.map(h => 1000000L / h._2).sum)
    }
    val got = GraphOps.harmonicCentrality(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == want)
    assert(want.values.exists(_._1 > 1L))
  }

  test("ab metrics match a naive arm split") {
    val ev = Tables.events(spark, sf)
      .select("event_type", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val got = AudienceOps.abMetrics(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7)))
      .toMap
    ev.groupBy(_._1).foreach { case (t, xs) =>
      val a = xs.filter(_._2 % 2 == 0)
      val b = xs.filter(_._2 % 2 == 1)
      val (ua, ub) = (a.map(_._2).distinct.size.toLong, b.map(_._2).distinct.size.toLong)
      val (ea, eb) = (a.size.toLong, b.size.toLong)
      val (ma, mb) = (1000L * ea / math.max(ua, 1), 1000L * eb / math.max(ub, 1))
      val lift = 1000000L * (mb - ma) / math.max(ma, 1)
      assert(got(t) == ((ua, ub, ea, eb, ma, mb, lift)), s"type $t")
    }
  }

  test("gini diversity matches naive impurity and brackets correctly") {
    val docs = Tables.documents(spark, sf)
      .select("source", "lang").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val got = SampleOps.giniDiversity(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    docs.groupBy(_._1).foreach { case (src, xs) =>
      val n = xs.size.toLong
      val ssq = xs.groupBy(_._2).values.map(g => g.size.toLong * g.size).sum
      val want = (n, xs.map(_._2).distinct.size.toLong,
        1000000L - 1000000L * ssq / (n * n))
      assert(got(src) == want, s"source $src")
      assert(want._3 >= 0L && want._3 < 1000000L)
    }
  }
}
