package graft

import java.lang.management.ManagementFactory
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{GraphKernel, GraphOps, MinLabel}

/** Times the in-task graph kernels ([[GraphKernel]]) against the
  * distributed rounds they replay, on random edge frames of growing size,
  * and records the heap a kernel pass takes — the measurement behind
  * [[GraphOps.BroadcastEdgeLimit]] as the kernel guard.
  *
  * {{{
  * sbt "Test/runMain graft.KernelCrossover DIR [ROWS...]"
  * }}}
  *
  * `DIR` receives the generated parquet edge frames. Each `ROWS` is a
  * guard count: directed rows for the min-label loops (a random graph over
  * ROWS/8 nodes, both directions of each edge), undirected rows for the
  * triangle count (ROWS canonical edges over ROWS/4 nodes). Per size it
  * prints, for each path, the seconds of one pass, the result (rounds,
  * label checksum or triangles) and `old+MB`: the old-generation peak
  * during the pass above its level after a GC before it — an upper bound
  * on what the pass held, since the big kernel arrays are allocated there
  * directly. A last line runs two converged kernels at once at the largest
  * size, as `percolation_audit` does. The results of both paths must agree.
  */
object KernelCrossover {
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** (seconds, result, old-generation MB above the pre-pass level). */
  private def measure[A](pass: => A): (Double, A, Double) = {
    System.gc(); System.gc()
    val before = oldGen.map(_.getUsage.getUsed).sum
    oldGen.foreach(_.resetPeakUsage())
    val t0 = System.nanoTime()
    val out = pass
    val secs = (System.nanoTime() - t0) / 1e9
    (secs, out, (oldGen.map(_.getPeakUsage.getUsed).sum - before) / 1048576.0)
  }

  /** Canonical (`src < dst`, distinct) random edges, written once. */
  private def randomEdges(
      s: SparkSession, dir: String, rows: Long, nodes: Long): DataFrame = {
    val path = s"$dir/edges_${rows}_$nodes"
    if (!new java.io.File(path).exists()) {
      def end(seed: Int) = pmod(xxhash64(col("id"), lit(seed)), lit(nodes))
      s.range(rows * 11 / 10).select(end(1).as("a"), end(2).as("b"))
        .filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("src"),
          greatest(col("a"), col("b")).as("dst"))
        .distinct().limit(rows.toInt).write.parquet(path)
    }
    s.read.parquet(path)
  }

  /** `(rows, checksum of the (node, label) pairs)` of a min-label result. */
  private def digest(labels: DataFrame): Row =
    labels.agg(count(lit(1)),
      sum(pmod(xxhash64(col("node"), col("label")), lit(1000003L)))).head()

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val sizes = if (args.length > 1) args.drop(1).map(_.toLong).toSeq
      else Seq(100000L, 500000L, 1000000L, 2000000L, 5000000L)
    val s = GraftSession.build(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), "kernel-crossover")
    def line(size: Long, what: String, r: (Double, Any, Double)): Unit =
      println(f"rows=$size%-8d $what%-22s ${r._1}%8.2f s  ${r._3}%7.1f old+MB  ${r._2}")
    for (m <- sizes) {
      val sym = GraphOps.symmetric(randomEdges(s, dir, m / 2, m / 8))
      val m0 = sym.count()
      def laidOut() = sym.repartition(col("dst")).persist(StorageLevel.MEMORY_AND_DISK)
      val guarded = MinLabel.Guarded(sym, () => laidOut())
      val kc = measure {
        val (r, l) = GraphKernel.minLabelConverged(s, sym, m0, "node", "label", 50)
        (r, digest(l))
      }
      val dc = measure {
        val (r, l) = MinLabel.convergedRounds(s, guarded, "node", "label", 50)
        (r, digest(l))
      }
      val kf = measure(digest(GraphKernel.minLabelFixed(sym, m0, "node", "label", 5)))
      val df = measure {
        val e = laidOut()
        try digest(MinLabel.fixedRounds(s, MinLabel.Guarded(sym, () => e), "node", "label", 5))
        finally e.unpersist(false)
      }
      require(kc._2 == dc._2 && kf._2 == df._2, s"paths disagree at $m0 rows")
      Seq("kernel converged" -> kc, "rounds converged" -> dc, "kernel fixed(5)" -> kf,
        "rounds fixed(5)" -> df).foreach { case (w, r) => line(m0, w, r) }
      s.catalog.clearCache()
      val und = randomEdges(s, dir, m, m / 4)
      val u0 = und.count()
      val kt = measure(GraphKernel.triangleCount(und, u0).head().getLong(0))
      val dt = measure {
        val e = Tables.parallelized(und).persist(StorageLevel.MEMORY_AND_DISK)
        try GraphOps.orientedTriangles(e).head().getLong(0) finally e.unpersist(false)
      }
      require(kt._2 == dt._2, s"triangle counts disagree at $u0 rows")
      line(u0, "kernel triangles", kt); line(u0, "rounds triangles", dt)
    }
    val m = sizes.max
    val sym = GraphOps.symmetric(randomEdges(s, dir, m / 2, m / 8))
    val m0 = sym.count()
    val two = measure(Seq(1, 2).map(_ => Future {
      GraphKernel.minLabelConverged(s, sym, m0, "node", "label", 50)._1
    }).map(Await.result(_, Duration.Inf)))
    line(m0, "2 kernels at once", two)
    s.stop()
  }
}
