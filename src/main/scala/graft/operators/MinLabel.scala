package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The min-label connected-components loop, shared by every entry of the
  * family (`connected_components`, `components_conv`, both percolation
  * arms, the dedup cluster pair, the entity cluster pair). Every node of
  * a symmetrized `(src, dst)` edge frame starts labeled with its own id
  * and repeatedly takes the minimum label among itself and its
  * neighbours. Callers own only the edge frame (build, layout, caching),
  * their key/label column names and the join-hint policy, chosen by the
  * form of [[Edges]] they pass:
  *
  *  - [[Guarded]] (the graph and dedup loops) counts its plain edge frame
  *    once. At most [[GraphOps.BroadcastEdgeLimit]] rows run the loop
  *    INSIDE ONE TASK ([[GraphKernel]]), an exact replay of the rounds
  *    below — same key set, labels and round count — for a few jobs
  *    instead of a few per round. Above the guard the caller's laid-out
  *    frame is built and the distributed rounds run a size-guarded
  *    [[NodeLoop]] over it.
  *  - [[Unguarded]] runs an unguarded [[NodeLoop]]: no count, no hints
  *    and plain [[GraphOps.truncate]] — the entity loops, whose match-edge
  *    frame is a few K rows: a forced per-round broadcast build is an
  *    extra blocking driver job per round, and an A/B with hints measured
  *    the entity family ~2× slower (2.98 → 5.5 s at sf0.1) than the
  *    unhinted plan (planner/AQE picks the build side from real stats).
  *
  * Two stop rules, each keeping its own round shape:
  *
  *  - [[fixed]]: `rounds` synchronous rounds of union + min-combine (one
  *    aggregation exchange, map-side combined, no join back) and no jump —
  *    the unrolled DuckDB oracles replay exactly these plain rounds, so
  *    outputs match even for not-yet-converged nodes.
  *  - [[converged]]: neighbour-min, a left join with `least`, one fused
  *    stale pointer jump ([[staleJumps]]), until a round changes no label.
  *    This is the 100×-scale-safe mode: a fixed round count silently
  *    under-merges any component whose diameter exceeds it. Returns
  *    (rounds run, labels); rounds = propagation rounds + 1 (the round
  *    that observes no change).
  *
  * The distributed rounds are [[NodeLoop]]'s two stop rules, with its
  * checkpoint policy; the converged round carries the previous label, and
  * its stop test is a filter over the checkpointed frame. A variant with
  * a second checkpoint per round for a fresher jump target measured
  * percolation 64 → 31 rounds but wall-flat, so the loop keeps one
  * checkpoint per round and jumps through the previous round's
  * already-materialized frame.
  */
private[graft] object MinLabel {

  /** Stale-jump depth of the converged loop: how many times a round
    * chases `label ← stale(label)` through the PREVIOUS round's
    * materialized label frame. Measured on the percolation loop at
    * sf0.01: depth 0 = 24 rounds, depth 1 = 15, depths 2 and 3 = 15 — the
    * jumped-every-round stale forest stays ~2 deep by induction, so one
    * chase per round already reaches its root and deeper chases are pure
    * per-round join overhead.
    */
  private[graft] val JumpDepth = 1

  /** Fused stale pointer jumps (shortcutting, the hash-to-min family of
    * Rastogi et al., ICDE 2013): for [[JumpDepth]] steps, `cur`'s `lab`
    * column becomes `min(lab, stale_lab(lab))`, joining through the
    * previous round's materialized `(key, lab)` frame `stale`; all other
    * columns of `cur` pass through. Every stale label is an id of the SAME
    * component (the min-label invariant), so jumping stays in-component
    * and only lowers the label toward the component min — the fixpoint,
    * and thus the output, is unchanged. A no-change round of the combined
    * operator implies a no-change round of plain propagation
    * (min(lab, nbr) = lab for every node), so convergence detection stays
    * exact. `n = Some(count)` size-guards the jump side; `None` leaves the
    * join strategy to AQE.
    */
  private[graft] def staleJumps(
      cur: DataFrame, stale: DataFrame, n: Option[Long],
      key: String, lab: String): DataFrame = {
    val js0 = stale.select(col(key).as("__jn"), col(lab).as("__jl"))
    val js = n.map(GraphOps.roundSide(js0, _)).getOrElse(js0)
    var out = cur
    for (_ <- 1 to JumpDepth) {
      out = out.join(js, out(lab) === col("__jn"), "left")
        .withColumn(lab, least(col(lab), coalesce(col("__jl"), col(lab))))
        .drop("__jn", "__jl")
    }
    out
  }

  /** A loop's symmetrized `(src, dst)` edges, with their guard. */
  sealed trait Edges
  /** Distributed rounds over `edges` as given, unhinted. */
  final case class Unguarded(edges: DataFrame) extends Edges
  /** `plain` is counted against [[GraphOps.BroadcastEdgeLimit]] and feeds
    * the in-task kernel; `laidOut` builds the distributed rounds' cached
    * layout, and runs only above the guard.
    */
  final case class Guarded(plain: DataFrame, laidOut: () => DataFrame) extends Edges

  /** The guarded frame and its row count, when the kernel takes it. */
  private def inTask(edges: Edges): Option[(DataFrame, Long)] = edges match {
    case Guarded(plain, _) =>
      Some((plain, plain.count())).filter(_._2 <= GraphOps.BroadcastEdgeLimit)
    case _ => None
  }

  /** `rounds` synchronous min-label rounds over `edges`; `(key, label)`. */
  def fixed(
      s: SparkSession, edges: Edges, key: String, label: String,
      rounds: Int): DataFrame =
    inTask(edges).fold(fixedRounds(s, edges, key, label, rounds)) {
      case (plain, m) => GraphKernel.minLabelFixed(plain, m, key, label, rounds)
    }

  /** Min-label propagation over `edges` until no label changes, at most
    * `maxRounds` rounds; (rounds run, `(key, label)`).
    */
  def converged(
      s: SparkSession, edges: Edges, key: String, label: String,
      maxRounds: Int): (Int, DataFrame) =
    inTask(edges).fold(convergedRounds(s, edges, key, label, maxRounds)) {
      case (plain, m) => GraphKernel.minLabelConverged(s, plain, m, key, label, maxRounds)
    }

  /** The distributed [[fixed]] rounds, whatever the edge count. */
  private[graft] def fixedRounds(
      s: SparkSession, edges: Edges, key: String, label: String,
      rounds: Int): DataFrame = {
    val loop = nodeLoop(s, edges, key)
    loop.fixed(loop.nodes.withColumn(label, col(key)), rounds) { labels =>
      val propagated = loop.edges
        .join(loop.side(labels.withColumnRenamed(key, "src")), "src")
        .select(col("dst").as(key), col(label))
      labels.union(propagated)
        .groupBy(key).agg(min(label).as(label))
    }
  }

  /** The distributed [[converged]] rounds, whatever the edge count. */
  private[graft] def convergedRounds(
      s: SparkSession, edges: Edges, key: String, label: String,
      maxRounds: Int): (Int, DataFrame) = {
    val loop = nodeLoop(s, edges, key)
    val (nbr, prev) = (s"nbr_$label", s"prev_$label")
    val (rounds, last) =
      loop.converged(loop.nodes.withColumn(label, col(key)), maxRounds) { frame =>
        val labels = frame.select(key, label)
        val nbrMin = loop.edges
          .join(loop.side(labels.withColumnRenamed(key, "src")), "src")
          .groupBy(col("dst").as(key))
          .agg(min(label).as(nbr))
        staleJumps(labels
          .join(loop.side(nbrMin), Seq(key), "left")
          .select(col(key),
            least(col(label), coalesce(col(nbr), col(label))).as(label),
            col(label).as(prev)),
          labels, loop.n, key, label)
      }(_.filter(col(label) =!= col(prev)).isEmpty)
    // Every round is checkpointed, so the node and edge caches are
    // unreachable now.
    loop.release()
    (rounds, last.select(key, label))
  }

  /** The distributed rounds' driver: the guarded form's laid-out frame,
    * counted and hinted, with its node set cached, or the unguarded frame
    * as given.
    */
  private def nodeLoop(s: SparkSession, e: Edges, key: String): NodeLoop = {
    def nodes(edges: DataFrame) = edges.select(col("src").as(key)).distinct()
    e match {
      case Unguarded(d) => new NodeLoop(s, d, nodes(d), sizeGuard = false)
      case Guarded(_, laidOut) =>
        val d = laidOut()
        new NodeLoop(s, d, nodes(d).persist(StorageLevel.MEMORY_AND_DISK),
          sizeGuard = true)
    }
  }
}
