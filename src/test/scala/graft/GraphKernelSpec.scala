package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{GraphKernel, GraphOps, MinLabel}

/** The in-task kernels ([[GraphKernel]]) against the distributed rounds
  * they replay, on the same edges: labels, round counts, triangle counts
  * and output schemas must all be identical, including labels that a
  * fixed round count leaves unconverged.
  */
class GraphKernelSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = TestSession.sf

  private def edgeFrame(pairs: (Long, Long)*): DataFrame = {
    val s = spark
    import s.implicits._
    pairs.toDF("src", "dst")
  }

  private def sym(pairs: (Long, Long)*): DataFrame =
    edgeFrame(pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }: _*)

  /** The percolation-thinned co-purchase graph (`l_quantity ≥ 45`). */
  private def thinned: DataFrame = {
    val li = Tables.lineitem(spark, sf).filter(col("l_quantity") >= 45)
      .select(col("l_orderkey"), col("l_partkey"))
    GraphOps.symmetric(li.as("a")
      .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .distinct())
  }

  private def guarded(edges: DataFrame): MinLabel.Edges =
    MinLabel.Guarded(edges, () =>
      edges.repartition(col("dst")).persist(StorageLevel.MEMORY_AND_DISK))

  /** The kernels as the guarded entries call them, with the guard count. */
  private def kernFixed(edges: DataFrame, rounds: Int): DataFrame =
    GraphKernel.minLabelFixed(edges, edges.count(), "node", "label", rounds)
  private def kernConverged(edges: DataFrame, cap: Int): (Int, DataFrame) =
    GraphKernel.minLabelConverged(spark, edges, edges.count(), "node", "label", cap)

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def assertFixed(edges: DataFrame, rounds: Int): Unit = {
    val dist = MinLabel.fixedRounds(spark, guarded(edges), "node", "label", rounds)
    val kern = kernFixed(edges, rounds)
    assert(kern.schema == dist.schema, s"rounds=$rounds")
    assert(rows(kern) == rows(dist), s"rounds=$rounds")
  }

  /** Both converged paths at `cap`; returns their common round count. */
  private def assertConverged(edges: DataFrame, cap: Int): Int = {
    val (dr, dist) = MinLabel.convergedRounds(spark, guarded(edges), "node", "label", cap)
    val (kr, kern) = kernConverged(edges, cap)
    assert(kr == dr, s"cap=$cap")
    assert(kern.schema == dist.schema, s"cap=$cap")
    assert(rows(kern) == rows(dist), s"cap=$cap")
    dr
  }

  test("fixed rounds 1-5 match the distributed rounds on the co-purchase graph") {
    val edges = GraphOps.directedEdges(spark, sf)
    for (rounds <- 1 to 5) assertFixed(edges, rounds)
  }

  test("a path longer than the round count keeps the same unconverged labels") {
    // Ids fall along the path, so the minimum creeps one hop per round.
    val path = sym((1L to 19L).map(i => (21L - i, 20L - i)): _*)
    for (rounds <- 0 to 4) assertFixed(path, rounds)
    val unconverged = rows(kernFixed(path, 3))
    assert(unconverged.contains((20L, 17L)) && unconverged.contains((8L, 5L)))
    assert(Seq(2, 3, 5, 50).map(assertConverged(path, _)) == Seq(2, 3, 5, 6))
  }

  test("isolated nodes and dst-only nodes get the distributed key set") {
    // 7 is a self-loop island, 9 and 20 only appear as dst, 21 only as src.
    val edges = edgeFrame((1L, 2L), (2L, 1L), (7L, 7L), (3L, 9L), (2L, 9L),
      (21L, 20L), (5L, 3L), (3L, 5L))
    for (rounds <- 0 to 3) assertFixed(edges, rounds)
    val keys = rows(kernFixed(edges, 1)).map(_._1)
    assert(keys.contains(9L) && keys.contains(20L))
    for (cap <- Seq(1, 2, 50)) assertConverged(edges, cap)
    val (_, labels) = kernConverged(edges, 50)
    assert(!rows(labels).map(_._1).contains(9L), "converged keys are the srcs")
  }

  test("converged labels and round counts match on the full and thinned graphs") {
    val full = GraphOps.directedEdges(spark, sf)
    val thin = thinned.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val fullRounds = Seq(2, 3, 5, 50).map(assertConverged(full, _))
      val thinRounds = Seq(2, 3, 5, 50).map(assertConverged(thin, _))
      info(s"rounds at caps 2, 3, 5, 50: full $fullRounds, thinned $thinRounds")
      assert(thinRounds.last > 5, "the thinned graph should need the cap")
    } finally thin.unpersist(false)
  }

  test("an edgeless frame converges in one empty round on both paths") {
    val none = edgeFrame().filter(lit(false))
    assert(assertConverged(none, 50) == 1)
    assertFixed(none, 2)
  }

  test("triangle counts match on the co-purchase graph and under degree ties") {
    val und = GraphOps.edges(spark, sf)
    assert(GraphKernel.triangleCount(und, und.count()).collect().toSeq ==
      GraphOps.orientedTriangles(und).collect().toSeq)
    // K4 (4 triangles), one triangle, a chordless square (0) and K5 (10):
    // every node within each piece ties on degree, so the id breaks ties.
    def clique(ids: Long*) = for (a <- ids; b <- ids if a < b) yield (a, b)
    val ties = edgeFrame(clique(1, 2, 3, 4) ++ clique(10, 11, 12) ++
      Seq((20L, 21L), (21L, 22L), (22L, 23L), (20L, 23L)) ++
      clique(30, 31, 32, 33, 34): _*)
    val kern = GraphKernel.triangleCount(ties, ties.count())
    val dist = GraphOps.orientedTriangles(ties)
    assert(kern.schema == dist.schema)
    assert(kern.collect().map(_.getLong(0)).toSeq == Seq(15L))
    assert(dist.collect().map(_.getLong(0)).toSeq == Seq(15L))
  }

  test("distributed fixed rounds under reliable checkpoints match the kernel") {
    // Under the guard the public entries run the kernel and checkpoint
    // nothing, so the reliable-checkpoint path is exercised directly.
    val edges = GraphOps.directedEdges(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set("graft.checkpoint.dir", dir)
    try {
      val reliable = MinLabel.fixedRounds(spark, guarded(edges), "node", "label", 3)
      assert(rows(reliable) == rows(kernFixed(edges, 3)))
    } finally spark.conf.unset("graft.checkpoint.dir")
  }
}
