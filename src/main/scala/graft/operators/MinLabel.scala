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
  * their key/label column names and the join-hint policy:
  *
  *  - `sizeGuard = true` counts the nodes once, broadcasts every per-round
  *    node-sized side under [[GraphOps.BroadcastNodeLimit]]
  *    ([[GraphOps.roundSide]]) and checkpoints narrow
  *    ([[GraphOps.narrowTruncate]]) — the graph and dedup loops, where the
  *    cached edge frame is then never re-shuffled across rounds.
  *  - `sizeGuard = false` takes no count, adds no hints and checkpoints
  *    with plain [[GraphOps.truncate]] — the entity loops, whose match-edge
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
  *    outputs match even for not-yet-converged nodes. Each level reads the
  *    previous labels twice and Spark does not share common subplans
  *    across joins, so every round but the last is checkpointed to keep
  *    the plan linear instead of re-expanding 2^rounds times.
  *  - [[converged]]: neighbour-min, a left join with `least`, one fused
  *    stale pointer jump ([[staleJumps]]) and ONE checkpoint per round,
  *    until a round changes no label (checked by a filter over the
  *    checkpointed frame, which carries the previous label — no per-round
  *    join of two node-sized frames). This is the 100×-scale-safe mode: a
  *    fixed round count silently under-merges any component whose
  *    diameter exceeds it. At bench scales each round's wall cost IS its
  *    checkpoint job, not its data: a variant with a second checkpoint
  *    per round for a fresher jump target measured percolation 64 → 31
  *    rounds but wall-flat, so the loop keeps one checkpoint per round and
  *    jumps through the previous round's already-materialized frame.
  *    Returns (rounds run, labels); rounds = propagation rounds + 1 (the
  *    round that observes no change).
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

  /** `rounds` synchronous min-label rounds over `edges`; `(key, label)`. */
  def fixed(
      s: SparkSession, edges: DataFrame, key: String, label: String,
      rounds: Int, sizeGuard: Boolean): DataFrame = {
    val loop = new Loop(s, edges, key, sizeGuard)
    var labels = loop.init(label)
    for (i <- 1 to rounds) {
      val propagated = edges
        .join(loop.side(labels.withColumnRenamed(key, "src")), "src")
        .select(col("dst").as(key), col(label))
      labels = labels.union(propagated)
        .groupBy(key).agg(min(label).as(label))
      if (i < rounds) labels = loop.checkpoint(labels)
    }
    labels
  }

  /** Min-label propagation over `edges` until no label changes, at most
    * `maxRounds` rounds; (rounds run, `(key, label)`).
    */
  def converged(
      s: SparkSession, edges: DataFrame, key: String, label: String,
      maxRounds: Int, sizeGuard: Boolean): (Int, DataFrame) = {
    val loop = new Loop(s, edges, key, sizeGuard)
    val (nbr, prev) = (s"nbr_$label", s"prev_$label")
    var labels = loop.checkpoint(loop.init(label))
    var rounds = 0
    var converged = false
    while (rounds < maxRounds && !converged) {
      rounds += 1
      val nbrMin = edges
        .join(loop.side(labels.withColumnRenamed(key, "src")), "src")
        .groupBy(col("dst").as(key))
        .agg(min(label).as(nbr))
      val next = loop.checkpoint(staleJumps(labels
        .join(loop.side(nbrMin), Seq(key), "left")
        .select(col(key),
          least(col(label), coalesce(col(nbr), col(label))).as(label),
          col(label).as(prev)),
        labels, loop.n, key, label))
      converged = next.filter(col(label) =!= col(prev)).isEmpty
      labels = next.select(key, label)
    }
    // Every round is checkpointed, so the node cache is unreachable now.
    loop.release()
    (rounds, labels)
  }

  /** Per-run state: the node set, its count under the size guard, and
    * the hint and checkpoint policy that follows from it.
    */
  private final class Loop(
      s: SparkSession, edges: DataFrame, key: String, sizeGuard: Boolean) {
    private val nodes = {
      val d = edges.select(col("src").as(key)).distinct()
      if (sizeGuard) d.persist(StorageLevel.MEMORY_AND_DISK) else d
    }
    val n: Option[Long] = if (sizeGuard) Some(nodes.count()) else None

    def init(label: String): DataFrame = nodes.withColumn(label, col(key))
    def side(df: DataFrame): DataFrame = n.fold(df)(GraphOps.roundSide(df, _))
    def checkpoint(df: DataFrame): DataFrame =
      n.fold(GraphOps.truncate(s, df))(GraphOps.narrowTruncate(s, df, _))
    def release(): Unit = nodes.unpersist(false)
  }
}
