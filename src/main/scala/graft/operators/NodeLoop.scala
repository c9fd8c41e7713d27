package graft.operators

import scala.annotation.tailrec
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, min}

/** The round driver of the node-frame loops: PageRank with its weighted,
  * converged and personalized twins, LPA, k-core and the distributed
  * min-label rounds ([[MinLabel]]). Each iterates a frame of one row per
  * node (a score, a label, a survivor flag) against a cached edge frame.
  * A caller supplies that edge frame, laid out and cached, the round body
  * and, converged, the stop test; the node set, its count and the
  * broadcast and checkpoint policy live here, once. The frontier loops
  * (BFS, SSSP, the landmark BFS) iterate a sparse distance frame instead
  * and share one round body, [[relax]].
  *
  * Edges and nodes. `edges` has `src` and `dst` columns. Callers
  * hash-partition the cached edges by the round's aggregation key (`dst`
  * for the per-destination sums and picks, `src` for k-core's per-source
  * degree). The per-round node frame joins them by broadcast, which keeps
  * that partitioning, so every round's aggregation finds its clustering
  * already satisfied: zero exchanges inside the loop, one edge
  * repartition paid at build. (Above the broadcast guard the node side is
  * shuffle-joined, the rounds shuffle anyway and the layout is simply
  * ignored.) `nodes` is the distinct `src` values of the edges, one key
  * per row. Callers build it where it is cheapest to read, measured in
  * jobs at sf0.001: the rank loops take it from their edges before the
  * degree join and layout (2 jobs fewer than from the laid-out frame) and
  * cache it, since their first round reads the initial frame twice (1
  * job fewer); k-core leaves it uncached (1 job fewer), as its first
  * round reads it only through the broadcast sides.
  *
  * Size guard. With `sizeGuard` the node set is counted once;
  * [[side]] broadcasts every per-round node-sized side under
  * [[GraphOps.BroadcastNodeLimit]] ([[GraphOps.roundSide]]) and
  * [[checkpoint]] is [[GraphOps.narrowTruncate]]. Broadcasting the node
  * side keeps the cached edge frame exchange-free across all rounds:
  * without it every round re-shuffles the edges for a sort-merge join and
  * that edge exchange dominates the whole query. Without `sizeGuard` the
  * driver takes no count, adds no hints and checkpoints with plain
  * [[GraphOps.truncate]] (see [[MinLabel.Unguarded]] for the measured
  * reason).
  *
  * Two stop rules:
  *
  *  - [[fixed]]: `rounds` rounds, every round but the last checkpointed.
  *    A round reads the previous frame twice (the edge join and the
  *    per-node update) and Spark does not share common subplans across
  *    joins, so an unchecked chain re-expands 2^rounds times. Even with
  *    the node side broadcast, an unmaterialized k-round tail re-executes
  *    O(k²/2) inner rounds, since each broadcast exchange is materialized
  *    per query execution. The frame is one row per node, so a checkpoint
  *    per round is the cheap side of that trade (PageRank at sf0.1:
  *    checkpoint every 5 rounds with shuffle joins 8.2 s, every round with
  *    broadcast joins ~5 s).
  *  - [[converged]]: the initial frame checkpointed, then ONE checkpoint
  *    per round, and the caller's stop test over that checkpointed frame.
  *    The round body carries whatever the test compares (the previous
  *    label, score or survivor flag) into the frame it returns, so the
  *    test is one scan of cached data, never a per-round join of two
  *    node-sized frames. At bench scales each round's wall cost IS its
  *    checkpoint job, not its data (see [[MinLabel]] for the measured
  *    second-checkpoint variant), so a round takes no more than one.
  */
private[graft] final class NodeLoop(
    s: SparkSession, val edges: DataFrame, val nodes: DataFrame,
    sizeGuard: Boolean) {

  /** The node count: taken once at construction under the size guard,
    * else on first use.
    */
  lazy val count: Long = nodes.count()
  val n: Option[Long] = if (sizeGuard) Some(count) else None

  def side(df: DataFrame): DataFrame = sideAt(n)(df)
  def checkpoint(df: DataFrame): DataFrame = checkpointAt(n)(df)

  /** [[side]] and [[checkpoint]] for a frame of at most `rows` rows. */
  private def sideAt(rows: Option[Long])(df: DataFrame): DataFrame =
    rows.fold(df)(GraphOps.roundSide(df, _))
  private def checkpointAt(rows: Option[Long])(df: DataFrame): DataFrame =
    rows.fold(GraphOps.truncate(s, df))(GraphOps.narrowTruncate(s, df, _))

  /** `rounds` rounds of `round` from `init`. */
  def fixed(init: DataFrame, rounds: Int)(round: DataFrame => DataFrame): DataFrame =
    fixedAt(n)(init, rounds)(round)

  private def fixedAt(rows: Option[Long])(init: DataFrame, rounds: Int)(
      round: DataFrame => DataFrame): DataFrame =
    (1 to rounds).foldLeft(init) { (frame, i) =>
      val next = round(frame)
      if (i < rounds) checkpointAt(rows)(next) else next
    }

  /** [[fixed]] rounds of frontier relaxation from the seed frame `init`,
    * whose columns are `node`, any extra keys, then the distance. A round
    * relaxes every edge out of the frame, `dst` taking the keys and `step`
    * (an expression over the frame's and the edge's columns) as its
    * distance, and keeps the min distance per node and keys over the
    * frame and the relaxed rows: one union and one min aggregation, not a
    * full outer join of the old frame with the relaxed one, so the round
    * has one (map-side combined) aggregation exchange. Nodes no seed
    * reaches stay out of the frame. The frame holds at most `perNode` rows
    * per node (1, or one per landmark), so `perNode` × the node count is
    * the row bound of the broadcast and checkpoint guard.
    */
  def relax(init: DataFrame, rounds: Int, perNode: Long)(step: Column): DataFrame = {
    val rows = n.map(_ * perNode)
    val keys = init.columns.slice(1, init.columns.length - 1).toSeq
    val dist = init.columns.last
    fixedAt(rows)(init, rounds) { frame =>
      frame.union(edges
        .join(sideAt(rows)(frame.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node") +: keys.map(col) :+ step.as(dist): _*))
        .groupBy("node", keys: _*).agg(min(dist).as(dist))
    }
  }

  /** Rounds of `round` from `init` until `stable` holds on a round's
    * checkpointed frame, at most `maxRounds`; (rounds run, last frame).
    */
  def converged(init: DataFrame, maxRounds: Int)(round: DataFrame => DataFrame)(
      stable: DataFrame => Boolean): (Int, DataFrame) = {
    @tailrec def go(frame: DataFrame, rounds: Int): (Int, DataFrame) =
      if (rounds == maxRounds) (rounds, frame)
      else {
        val next = checkpoint(round(frame))
        if (stable(next)) (rounds + 1, next) else go(next, rounds + 1)
      }
    go(checkpoint(init), 0)
  }

  /** Drop the node and edge caches, once no frame reads them any more. */
  def release(): Unit = { nodes.unpersist(false); edges.unpersist(false) }
}
