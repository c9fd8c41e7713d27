package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Association mining and record linkage — the two classic "pairs within
  * a bounded scope" operators, both shaped so the pair space is generated
  * from small per-group fan-outs (basket items, blocking keys), never an
  * all-pairs cross join.
  */
object AssocOps {

  /** Market-basket association rules over order baskets: for every
    * co-purchased part pair, support, confidence and lift in milli
    * fixed-point, both rule directions, top `k` by support.
    *
    * Scale shape: the pair generator is a self-join of the DISTINCT
    * (order, part) item table on the order key — fan-out is bounded by
    * basket size squared (TPC-H ≈ 4 items/order ⇒ ≤ ~6 unordered pairs),
    * so pair volume is O(orders), not O(parts²). Supports and pair
    * counts are map-side-combined aggregates; the two support joins
    * shuffle on part keys only. Lift is computed STAGED —
    * `((1000·suppAB) div suppA · N) div suppB` — so no intermediate
    * exceeds ~10³·N and the arithmetic stays inside BIGINT at any corpus
    * size (the naive `1000·N·suppAB` monomial overflows once orders pass
    * ~10⁸); the oracle stages identically, and the staged confidence is
    * exactly the milli confidence it reports.
    */
  def basketRules(s: SparkSession, dir: String, k: Int = 100): DataFrame = {
    val items = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val supp = items.groupBy(col("p")).agg(count(lit(1)).as("supp"))
    val nOrders = items.select("o").distinct().count()

    val pairs = items.as("x").join(items.as("y"), Seq("o"))
      .filter(col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("a"), col("y.p").as("b"))
      .agg(count(lit(1)).as("supp_pair"))

    // Both rule directions from the unordered pair counts.
    val rules = pairs.select(col("a"), col("b"), col("supp_pair"))
      .union(pairs.select(col("b").as("a"), col("a").as("b"), col("supp_pair")))
      .join(supp.withColumnRenamed("p", "a").withColumnRenamed("supp", "supp_a"), "a")
      .join(supp.withColumnRenamed("p", "b").withColumnRenamed("supp", "supp_b"), "b")
      .withColumn("conf_milli", expr("(1000 * supp_pair) div supp_a"))
      .withColumn("lift_milli", expr(s"(conf_milli * $nOrders) div supp_b"))
      .select(col("a").as("antecedent"), col("b").as("consequent"),
        col("supp_pair"), col("conf_milli"), col("lift_milli"))
    rules
      .orderBy(desc("supp_pair"), desc("conf_milli"),
        col("antecedent"), col("consequent"))
      .limit(k)
  }

  def basketRulesOracleSql(k: Int = 100): String =
    s"""WITH items AS (
       | SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |supp AS (SELECT p, count(*) AS supp FROM items GROUP BY p),
       |n AS (SELECT count(DISTINCT o) AS n_orders FROM items),
       |pairs AS (
       | SELECT x.p AS a, y.p AS b, count(*) AS supp_pair
       | FROM items x JOIN items y ON x.o = y.o AND x.p < y.p
       | GROUP BY x.p, y.p),
       |dirs AS (
       | SELECT a, b, supp_pair FROM pairs
       | UNION ALL
       | SELECT b AS a, a AS b, supp_pair FROM pairs),
       |r AS (
       | SELECT dirs.a AS antecedent, dirs.b AS consequent, supp_pair,
       |  (1000 * supp_pair) // sa.supp AS conf_milli,
       |  (((1000 * supp_pair) // sa.supp) * n.n_orders) // sb.supp AS lift_milli
       | FROM dirs
       |  JOIN supp sa ON sa.p = dirs.a
       |  JOIN supp sb ON sb.p = dirs.b, n)
       |SELECT antecedent, consequent, CAST(supp_pair AS BIGINT) AS supp_pair,
       | CAST(conf_milli AS BIGINT) AS conf_milli,
       | CAST(lift_milli AS BIGINT) AS lift_milli
       |FROM r
       |ORDER BY supp_pair DESC, conf_milli DESC, antecedent, consequent
       |LIMIT $k""".stripMargin

  /** Item-item co-occurrence neighbors — for every part, its top-`k`
    * most-similar parts by exact Jaccard over buyer-order sets (the
    * item-based collaborative-filtering primitive). Similarity is
    * integer milli-Jaccard `(1000·|A∩B|) div (|A|+|B|−|A∩B|)`, so the
    * ranking is exact and engine-portable — no float cosine drift.
    *
    * Scale shape: the intersection counts come from the same
    * basket-bounded pair generator as [[basketRules]] (O(orders·basket²)
    * pairs, never parts²); the per-item top-k is a window over each
    * item's OWN neighbor list (bounded by its co-purchase degree), not a
    * global sort.
    */
  def itemNeighbors(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val items = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val supp = items.groupBy(col("p")).agg(count(lit(1)).as("supp"))
    val pairs = items.as("x").join(items.as("y"), Seq("o"))
      .filter(col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("a"), col("y.p").as("b"))
      .agg(count(lit(1)).as("co"))
    val directed = pairs.select(col("a"), col("b"), col("co"))
      .union(pairs.select(col("b").as("a"), col("a").as("b"), col("co")))
      .join(supp.withColumnRenamed("p", "a").withColumnRenamed("supp", "supp_a"), "a")
      .join(supp.withColumnRenamed("p", "b").withColumnRenamed("supp", "supp_b"), "b")
      .withColumn("jac_milli", expr("(1000 * co) div (supp_a + supp_b - co)"))
    directed
      .withColumn("rn", row_number().over(
        Window.partitionBy("a")
          .orderBy(desc("jac_milli"), desc("co"), col("b"))))
      .filter(col("rn") <= k)
      .select(col("a").as("item"), col("rn").cast("long").as("rn"),
        col("b").as("neighbor"), col("co").as("co_orders"), col("jac_milli"))
      .orderBy("item", "rn")
  }

  def itemNeighborsOracleSql(k: Int = 5): String =
    s"""WITH items AS (
       | SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |supp AS (SELECT p, count(*) AS supp FROM items GROUP BY p),
       |pairs AS (
       | SELECT x.p AS a, y.p AS b, count(*) AS co
       | FROM items x JOIN items y ON x.o = y.o AND x.p < y.p
       | GROUP BY x.p, y.p),
       |dirs AS (
       | SELECT a, b, co FROM pairs
       | UNION ALL SELECT b AS a, a AS b, co FROM pairs),
       |j AS (
       | SELECT dirs.a, dirs.b, co,
       |  (1000 * co) // (sa.supp + sb.supp - co) AS jac_milli
       | FROM dirs JOIN supp sa ON sa.p = dirs.a JOIN supp sb ON sb.p = dirs.b),
       |r AS (
       | SELECT a, b, co, jac_milli, row_number() OVER (
       |  PARTITION BY a ORDER BY jac_milli DESC, co DESC, b) AS rn
       | FROM j)
       |SELECT a AS item, CAST(rn AS BIGINT) AS rn, b AS neighbor,
       | CAST(co AS BIGINT) AS co_orders, CAST(jac_milli AS BIGINT) AS jac_milli
       |FROM r WHERE rn <= $k ORDER BY item, rn""".stripMargin

  /** Statistical independence audit of two categorical columns (lang ×
    * source): per-cell observed vs expected-under-independence shares in
    * ppm fixed point, `dev_ppm = |obs − R·C/N²|`. Everything is staged
    * integer arithmetic (`(10⁶R div N · 10⁶C div N) div 10⁶`), so no
    * intermediate exceeds ~10¹⁸ at ANY corpus size — the audit runs
    * unchanged at 100 TB where a naive `(O·N − R·C)²` χ² numerator
    * overflows even 128-bit. The corpus collapses to the cells×1 grid
    * (langs × sources) before any join; marginals ride broadcasts.
    */
  def independenceAudit(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val cells = docs.groupBy("lang", "source").agg(count(lit(1)).as("obs"))
    val rowTot = docs.groupBy("lang").agg(count(lit(1)).as("r"))
    val colTot = docs.groupBy("source").agg(count(lit(1)).as("c"))
    val n = docs.agg(count(lit(1)).as("n"))
    cells
      .join(broadcast(rowTot), "lang")
      .join(broadcast(colTot), "source")
      .crossJoin(broadcast(n))
      .withColumn("obs_ppm", expr("(1000000 * obs) div n"))
      .withColumn("exp_ppm",
        expr("(((1000000 * r) div n) * ((1000000 * c) div n)) div 1000000"))
      .withColumn("dev_ppm", abs(col("obs_ppm") - col("exp_ppm")))
      .select(col("lang"), col("source"), col("obs"), col("obs_ppm"),
        col("exp_ppm"), col("dev_ppm"))
      .orderBy("lang", "source")
  }

  def independenceAuditOracleSql(): String =
    """WITH cells AS (
      | SELECT lang, source, count(*) AS obs FROM documents GROUP BY 1, 2),
      |rt AS (SELECT lang, count(*) AS r FROM documents GROUP BY 1),
      |ct AS (SELECT source, count(*) AS c FROM documents GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents)
      |SELECT cells.lang, cells.source, obs,
      | (1000000 * obs) // n.n AS obs_ppm,
      | (((1000000 * r) // n.n) * ((1000000 * c) // n.n)) // 1000000 AS exp_ppm,
      | abs((1000000 * obs) // n.n -
      |  (((1000000 * r) // n.n) * ((1000000 * c) // n.n)) // 1000000) AS dev_ppm
      |FROM cells JOIN rt USING (lang) JOIN ct USING (source), n
      |ORDER BY cells.lang, cells.source""".stripMargin

  /** Blocked fuzzy record linkage over part names: candidate pairs form
    * ONLY within a (p_type, p_size) block, each verified by Levenshtein
    * edit distance; per-block audit of candidate volume, match count
    * (dist ≤ `maxDist`) and distance distribution.
    *
    * This is the standard blocking+verify shape of entity resolution at
    * scale: the quadratic step is confined to blocks (pair volume
    * Σ|block|², tunable by key choice — add a secondary key or salt if a
    * block outgrows an executor), the verifier is a codegen'd built-in,
    * and nothing ever compares across blocks. Both engines implement
    * textbook unit-cost edit distance, so `dist` is engine-portable.
    */
  /** Sorted-neighborhood window for the linkage family: each record is
    * compared with the next `EntityWindow` records in (p_name, key)
    * order inside its (p_type, p_size) block.
    */
  val EntityWindow = 8

  /** Shared candidate generator for the linkage family: records paired
    * with their next [[EntityWindow]] name-order neighbors inside each
    * block, via an EQUI-join on (block, rank+offset) — offsets explode
    * from a constant literal, so the within-block pair product is never
    * materialized and candidate volume is window × n at any block size.
    */
  private[graft] def windowedBlockPairs(p: DataFrame, window: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("p_type", "p_size").orderBy("p_name", "key")
    val ranked = p.withColumn("rn", row_number().over(w))
    ranked
      .select(col("p_type"), col("p_size"), col("rn"),
        col("key").as("src"), col("p_name").as("name_l"))
      .withColumn("o", explode(array((1 to window).map(lit(_)): _*)))
      .withColumn("rn", col("rn") + col("o"))
      .join(ranked.select(col("p_type"), col("p_size"), col("rn"),
        col("key").as("dst"), col("p_name").as("name_r")),
        Seq("p_type", "p_size", "rn"))
      .select(col("p_type"), col("p_size"), col("src"), col("dst"),
        col("name_l"), col("name_r"))
  }

  /** Blocked fuzzy-linkage audit. Per (p_type, p_size) block: the EXACT
    * candidate mass `C(sz, 2)` a naive all-pairs comparer would pay
    * (computed arithmetically from the block size — no pair is ever
    * materialized for it), the window × n candidates the sorted-
    * neighborhood pass actually verifies, the verified matches, and the
    * windowed distance profile. `cand_pairs − win_pairs` is the priced
    * dropped-comparison volume (the df-cap dropped-postings precedent):
    * block keys don't grow with the corpus, so the naive form is
    * quadratic (measured exp 1.95 on the entity-clusters twin before the
    * window landed) while this audit stays linear.
    */
  def fuzzyLinkParts(s: SparkSession, dir: String, maxDist: Int = 4): DataFrame = {
    val p = Tables.part(s, dir)
      .select(col("p_partkey").cast("long").as("key"),
        col("p_name"), col("p_type"), col("p_size"))
    val sizes = p.groupBy("p_type", "p_size").agg(count(lit(1)).as("sz"))
    val stats = windowedBlockPairs(p, EntityWindow)
      .select(col("p_type"), col("p_size"),
        levenshtein(col("name_l"), col("name_r")).as("dist"))
      .groupBy("p_type", "p_size")
      .agg(
        count(lit(1)).as("win_pairs"),
        sum(when(col("dist") <= maxDist, 1L).otherwise(0L)).as("matches"),
        min("dist").cast("long").as("min_dist"),
        expr("(1000 * sum(dist)) div count(*)").as("avg_dist_milli"))
    sizes.filter(col("sz") >= 2)
      .join(stats, Seq("p_type", "p_size"))
      .select(col("p_type"), col("p_size"),
        expr("(sz * (sz - 1)) div 2").as("cand_pairs"),
        col("win_pairs"), col("matches"), col("min_dist"),
        col("avg_dist_milli"))
      .orderBy("p_type", "p_size")
  }

  def fuzzyLinkOracleSql(maxDist: Int = 4): String =
    s"""WITH rk AS (
       | SELECT CAST(p_partkey AS BIGINT) AS key, p_name, p_type, p_size,
       |  row_number() OVER (PARTITION BY p_type, p_size
       |   ORDER BY p_name, CAST(p_partkey AS BIGINT)) AS rn
       | FROM part),
       |sz AS (SELECT p_type, p_size, count(*) AS sz FROM rk GROUP BY 1, 2),
       |wp AS (
       | SELECT l.p_type, l.p_size,
       |  levenshtein(l.p_name, r.p_name) AS dist
       | FROM rk l JOIN rk r
       |  ON l.p_type = r.p_type AND l.p_size = r.p_size
       |   AND r.rn - l.rn BETWEEN 1 AND $EntityWindow),
       |st AS (
       | SELECT p_type, p_size, count(*) AS win_pairs,
       |  CAST(sum(CASE WHEN dist <= $maxDist THEN 1 ELSE 0 END) AS BIGINT) AS matches,
       |  CAST(min(dist) AS BIGINT) AS min_dist,
       |  CAST((1000 * sum(dist)) // count(*) AS BIGINT) AS avg_dist_milli
       | FROM wp GROUP BY 1, 2)
       |SELECT sz.p_type, sz.p_size,
       | (sz * (sz - 1)) // 2 AS cand_pairs,
       | win_pairs, matches, min_dist, avg_dist_milli
       |FROM sz JOIN st ON sz.p_type = st.p_type AND sz.p_size = st.p_size
       |WHERE sz >= 2
       |ORDER BY sz.p_type, sz.p_size""".stripMargin

  /** Entity-resolution clusters — the step [[fuzzyLinkParts]] feeds:
    * candidate pairs (same (p_type, p_size) block, within a sorted-
    * neighborhood window of [[EntityWindow]] in name order, name
    * Levenshtein ≤ `maxDist`) become an undirected graph, `rounds`
    * synchronous min-label propagation rounds collapse transitive match
    * chains (A≈B, B≈C ⇒ one entity even when A and C never matched
    * directly), and each multi-record entity emits one row: fixed-round
    * label, member count, canonical key range. Fixed rounds, not
    * convergence — both engines run the identical unrolled relaxation.
    * CONTRACT: a chain needing more than `rounds` propagation hops from
    * its minimum label is reported as SEVERAL entities with overlapping
    * key ranges (measured: 425 vs 423 truly-converged entities at
    * sf0.01) — this fixed-round form is the bounded-latency mode; use
    * [[entityClustersConverged]] (`entity_clusters_conv`) when exact
    * transitive closure is required.
    *
    * Scale shape: [[fuzzyLinkParts]]' plain blocking is NOT enough here —
    * block keys don't grow with the corpus, so block sizes grow linearly
    * and pairs quadratically (measured: 4.3 s at sf0.1 → 382 s at sf1,
    * exponent 1.95, for the all-pairs-in-block form). The sorted-
    * neighborhood window (the `dedup_sorted_neighborhood` contract) caps
    * candidates at window × n: near-identical names sort adjacently, and
    * the window join is an EQUI-join on (block, rank+offset) — offsets
    * explode from a constant literal, so Spark never materializes the
    * within-block pair product. Label state is one row per matched node;
    * each round is the bfs-style union + min-combine.
    */
  def entityClusters(
      s: SparkSession, dir: String,
      maxDist: Int = 4, rounds: Int = 4): DataFrame =
    entityClustersOf(s,
      Tables.part(s, dir)
        .select(col("p_partkey").cast("long").as("key"),
          col("p_name"), col("p_type"), col("p_size")),
      maxDist, rounds)

  /** [[entityClusters]] over an arbitrary record frame (`key`, `p_name`,
    * `p_type`, `p_size`) — the spec's planted-chain seam.
    */
  private[graft] def entityClustersOf(
      s: SparkSession, p: DataFrame,
      maxDist: Int, rounds: Int): DataFrame =
    // Tiny match-edge frame: no join hints ([[MinLabel]]).
    entitySummary(MinLabel.fixed(s, MinLabel.Unguarded(matchEdges(p, maxDist)),
      "node", "lab", rounds))

  /** Convergence-checked entity resolution — the [[entityClusters]] twin
    * that iterates min-label propagation until NO label changes
    * ([[MinLabel.converged]]), instead of the fixed 4 rounds. The
    * fixed-round form under-merges any match chain needing more than 4
    * propagation hops from its minimum label — invisible to its own gate
    * because the oracle mirrors the rounds.
    * This twin's oracle is an unrolled chain with generous headroom
    * (default 20 rounds vs the measured ≤4 at gate SFs): min-label
    * propagation is a stable fixpoint, so extra oracle rounds are
    * no-ops once converged, and a Spark-side under-merge (or a chain
    * needing >4 hops, which grows plausible with block sizes at scale)
    * fails the hash compare rather than being mirrored. Returns
    * (rounds run, same schema as [[entityClusters]]).
    */
  def entityClustersConverged(
      s: SparkSession, dir: String,
      maxDist: Int = 4, maxIters: Int = 50): (Int, DataFrame) =
    entityClustersConvergedOf(s,
      Tables.part(s, dir)
        .select(col("p_partkey").cast("long").as("key"),
          col("p_name"), col("p_type"), col("p_size")),
      maxDist, maxIters)

  private[graft] def entityClustersConvergedOf(
      s: SparkSession, p: DataFrame,
      maxDist: Int, maxIters: Int): (Int, DataFrame) = {
    val (rounds, lab) = MinLabel.converged(s,
      MinLabel.Unguarded(matchEdges(p, maxDist)), "node", "lab", maxIters)
    (rounds, entitySummary(lab))
  }

  /** Symmetrized, cached `(src, dst)` match edges of the windowed blocks. */
  private def matchEdges(p: DataFrame, maxDist: Int): DataFrame = {
    val pairs = windowedBlockPairs(p, EntityWindow)
      .filter(levenshtein(col("name_l"), col("name_r")) <= maxDist)
      .select(col("src"), col("dst"))
    pairs
      .union(pairs.select(col("dst").as("src"), col("src").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** One row per entity: its label, member count and key range. */
  private def entitySummary(lab: DataFrame): DataFrame =
    lab.groupBy(col("lab").as("entity"))
      .agg(
        count(lit(1)).as("n_members"),
        min("node").as("key_lo"),
        max("node").as("key_hi"))
      .orderBy("entity")

  /** DuckDB oracle for [[entityClusters]]: blocked match edges + the
    * same unrolled min-label rounds (bfs-oracle carry shape).
    */
  def entityClustersOracleSql(maxDist: Int = 4, rounds: Int = 4): String = {
    val inf = Long.MaxValue
    val sb = new StringBuilder
    sb.append(
      s"""WITH rk AS MATERIALIZED (
         | SELECT CAST(p_partkey AS BIGINT) AS key, p_name, p_type, p_size,
         |  row_number() OVER (PARTITION BY p_type, p_size
         |   ORDER BY p_name, CAST(p_partkey AS BIGINT)) AS rn
         | FROM part),
         |mp AS MATERIALIZED (
         | SELECT l.key AS src, r.key AS dst
         | FROM rk l JOIN rk r
         |  ON l.p_type = r.p_type AND l.p_size = r.p_size
         |   AND r.rn - l.rn BETWEEN 1 AND $EntityWindow
         |   AND levenshtein(l.p_name, r.p_name) <= $maxDist),
         |edges AS MATERIALIZED (SELECT src, dst FROM mp UNION ALL SELECT dst AS src, src AS dst FROM mp),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lab FROM edges)""".stripMargin)
    for (i <- 1 to rounds) {
      sb.append(s""",
        |l$i AS MATERIALIZED (
        | SELECT coalesce(p.node, r.node) AS node,
        |  least(coalesce(p.lab, $inf), coalesce(r.ml, $inf)) AS lab
        | FROM l${i - 1} p FULL JOIN (
        |  SELECT e.dst AS node, min(p.lab) AS ml
        |  FROM edges e JOIN l${i - 1} p ON e.src = p.node GROUP BY e.dst) r
        |  ON p.node = r.node)""".stripMargin)
    }
    sb.append(s"""
      |SELECT lab AS entity, count(*) AS n_members,
      | min(node) AS key_lo, max(node) AS key_hi
      |FROM l$rounds GROUP BY lab ORDER BY entity""".stripMargin)
    sb.toString
  }
}
