package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** In-task kernels for graphs under the size guard
  * ([[GraphOps.BroadcastEdgeLimit]] edge rows): the `(src, dst)` long
  * edge frame moves into ONE partition (`repartition(1)` +
  * `mapPartitions` — an exchange, never a driver collect) and the
  * algorithm runs over dense arrays in that one executor task. Under the
  * guard the distributed loops cost their jobs, not their data (Chukonu,
  * VLDB 2021: per-operator overhead dominates small frames).
  *
  * Each kernel REPLAYS its distributed twin exactly — same rounds, key
  * set, round count, output columns, types and nullability — so even the
  * unconverged labels of a fixed round count match the unrolled oracles.
  * Output is one partition: a following sort or aggregate adds no exchange.
  */
private[graft] object GraphKernel {

  /** No label yet: the key is not in the distributed loop's key set. */
  private val Absent = Int.MaxValue

  /** [[MinLabel.fixedRounds]] in one task: `rounds` synchronous rounds of
    * `label(dst) ← min(label(dst), label(src))` over edges whose src has a
    * label, no jump; the key set grows from the srcs as the union does.
    */
  def minLabelFixed(
      edges: DataFrame, rows: Long, key: String, label: String,
      rounds: Int): DataFrame = {
    // Round 0 is the src-keyed identity; a round's union and min() widen.
    val (srcNull, dstNull) = (edges.schema("src").nullable, edges.schema("dst").nullable)
    inOneTask(edges, rows, StructField(key, LongType, srcNull || rounds > 0 && dstNull),
        StructField(label, LongType, srcNull || rounds > 0)) { g =>
      var lab = g.initialLabels
      for (_ <- 1 to rounds) {
        val next = lab.clone()
        g.forEachEdge { (u, v) => if (lab(u) < next(v)) next(v) = lab(u) }
        lab = next
      }
      g.labelRows(lab)
    }
  }

  /** [[MinLabel.convergedRounds]] in one task: per round the neighbour-min
    * over edges whose src is labelled, `least` with the node's own label,
    * then one stale jump through the PREVIOUS round's labels
    * ([[MinLabel.JumpDepth]] = 1); stops on the first round that changes
    * no label, or at `maxRounds`. Returns the same (rounds run, labels).
    */
  def minLabelConverged(
      s: SparkSession, edges: DataFrame, rows: Long, key: String,
      label: String, maxRounds: Int): (Int, DataFrame) = {
    require(MinLabel.JumpDepth == 1, "the kernel replays one stale jump per round")
    val nullable = edges.schema("src").nullable
    val roundsCol = "__rounds"
    val out = GraphOps.truncate(s, inOneTask(edges, rows, StructField(key, LongType, nullable),
        StructField(label, LongType, nullable),
        StructField(roundsCol, IntegerType, nullable = false)) { g =>
      var (lab, rounds, changed) = (g.initialLabels, 0, true)
      while (rounds < maxRounds && changed) {
        rounds += 1
        val nbr = Array.fill(g.n)(Absent)
        g.forEachEdge { (u, v) => if (lab(u) < nbr(v)) nbr(v) = lab(u) }
        val next = lab.clone()
        changed = false
        for (v <- 0 until g.n if lab(v) != Absent) {
          val c = math.min(lab(v), nbr(v))
          next(v) = math.min(c, lab(c))
          changed ||= next(v) != lab(v)
        }
        lab = next
      }
      g.labelRows(lab, rounds)
    })
    // An edgeless frame runs no kernel row; its distributed loop stops
    // after one empty round.
    val rounds = out.select(roundsCol).take(1).headOption
      .fold(math.min(1, maxRounds))(_.getInt(0))
    (rounds, out.drop(roundsCol))
  }

  /** [[GraphOps.orientedTriangles]] in one task over the canonical
    * (`src < dst`, distinct) undirected edges: each edge is oriented from
    * its lower-(degree, id) endpoint, and a mark array counts every
    * triangle once at its orientation-minimal vertex.
    */
  def triangleCount(und: DataFrame, rows: Long): DataFrame =
    inOneTask(und, rows, StructField("triangles", LongType, nullable = false)) { g =>
      val deg = new Array[Int](g.n)
      g.forEachEdge { (u, v) => deg(u) += 1; deg(v) += 1 }
      def from(u: Int, v: Int) = deg(u) < deg(v) || (deg(u) == deg(v) && u < v)
      // Out-lists of the orientation, in CSR form.
      val off = new Array[Int](g.n + 1)
      g.forEachEdge { (u, v) => off((if (from(u, v)) u else v) + 1) += 1 }
      for (u <- 0 until g.n) off(u + 1) += off(u)
      val adj = new Array[Int](off(g.n))
      val fill = off.clone()
      g.forEachEdge { (u, v) =>
        val (a, b) = if (from(u, v)) (u, v) else (v, u)
        adj(fill(a)) = b; fill(a) += 1
      }
      val mark = Array.fill(g.n)(-1)
      var triangles = 0L
      for (u <- 0 until g.n) {
        for (i <- off(u) until off(u + 1)) mark(adj(i)) = u
        for (i <- off(u) until off(u + 1); j <- off(adj(i)) until off(adj(i) + 1))
          if (mark(adj(j)) == u) triangles += 1
      }
      Iterator.single(Row(triangles))
    }

  /** Runs `kernel` over all `rows` of `edges` (their guard count) in one
    * task, emitting `out` rows.
    */
  private def inOneTask(edges: DataFrame, rows: Long, out: StructField*)(
      kernel: Dense => Iterator[Row]): DataFrame = {
    require(rows <= Int.MaxValue / 2, s"$rows edge rows exceed one task's arrays")
    edges.select(col("src"), col("dst")).repartition(1)
      .mapPartitions(it => kernel(new Dense(it, rows.toInt)))(Encoders.row(StructType(out)))
  }

  /** One partition's `m` edges over dense nodes `0 until n`: node `v` is
    * id `ids(v)` (sorted, distinct), so a min over nodes is a min over ids;
    * `ends` holds the srcs, then the dsts, as nodes. Arrays are sized from
    * the guard count: 40 bytes per edge row at the peak (endpoint ids,
    * their sorted copy, the nodes), 24 after it.
    */
  private final class Dense(rows: Iterator[Row], m: Int) {
    private val (ids, distinct, ends) = {
      val raw = new Array[Long](2 * m)
      var e = 0
      rows.foreach { r =>
        require(e < m, s"more edge rows than the guard count $m")
        raw(e) = r.getLong(0); raw(m + e) = r.getLong(1); e += 1
      }
      require(e == m, s"$e edge rows, guard count $m")
      val ids = raw.clone()
      java.util.Arrays.sort(ids)
      var k = 0
      for (i <- ids.indices) if (k == 0 || ids(k - 1) != ids(i)) { ids(k) = ids(i); k += 1 }
      (ids, k, raw.map(java.util.Arrays.binarySearch(ids, 0, k, _)))
    }
    val n: Int = distinct

    def forEachEdge(f: (Int, Int) => Unit): Unit = {
      var e = 0
      while (e < m) { f(ends(e), ends(m + e)); e += 1 }
    }
    /** Round-0 min labels: every src labelled with itself, dst-only nodes absent. */
    def initialLabels: Array[Int] = {
      val lab = Array.fill(n)(Absent)
      for (e <- 0 until m) lab(ends(e)) = ends(e)
      lab
    }
    /** `(id, label id, more…)` for every labelled node. */
    def labelRows(lab: Array[Int], more: Any*): Iterator[Row] =
      Iterator.range(0, n).filter(lab(_) != Absent)
        .map(v => Row.fromSeq(Seq(ids(v), ids(lab(v))) ++ more))
  }
}
