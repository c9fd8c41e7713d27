package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.Tables

/** Fixed-point Lloyd's K-Means — the ORACLE-CLOSED twin of the MLlib
  * entries (`kmeans_sizes`/`kmeans_centroids`/`kmeans_assign`, which are
  * rows-only by declared contract because MLlib's k-means|| init and
  * float tree-aggregation are not SQL-expressible). This one is:
  * deterministic init (the k lowest-id vectors), a FIXED iteration
  * count, and every arithmetic step in e6 fixed-point integers, so a
  * DuckDB oracle can replay the algorithm exactly, round for round
  * (semantics mirrored: kmeans_spark.py:140-162's Lloyd loop).
  *
  * Determinism contract, engine by engine:
  *  - coordinates quantize once to e6 (`floor(x·1e6 + 0.5)` — pure IEEE,
  *    bit-identical both sides), so distances are exact BIGINT sums;
  *  - assignment is argmin over exact integers with ties broken toward
  *    the LOWEST cluster id (Spark: first `array_position` match over
  *    the distance array; oracle: `row_number() ORDER BY dist, cluster`);
  *  - centroid update is integer mean `sum div count` (both engines
  *    truncate toward zero) — each round re-synchronizes to the integer
  *    grid, so no cross-engine drift can accumulate;
  *  - a cluster that loses all members KEEPS its previous centroid.
  *
  * Scale notes (100 TB): the corpus-sized work per round is one
  * assignment pass (centroids enter as a k×64 LITERAL array — a plan
  * constant, nothing is broadcast or joined) and one k×64-cell partial
  * aggregation (posexplode combines map-side, the exchange carries
  * k·dims cells regardless of corpus size). The only driver state is
  * the k×64 integer centroid table per round — the same constant-size
  * judgment call as PageRank's convergence scalar or PCA's moment
  * matrix. Iteration count is fixed (the oracle-replayable contract);
  * production convergence-mode would add the one-scalar-per-round
  * changed-count check of [[MinLabel.converged]].
  */
object LloydOps {

  val K = 8
  val Iters = 4
  val Dims: Int = StatsOps.EmbedDims

  /** The e6 fixed-point quantization as a column: floor(x·1e6 + 0.5) per
    * component, BIGINT — exposed so consumers that need the Lloyd grid
    * alongside other per-row columns (e.g. [[PqOps.annIvfPqTopK]]'s fused
    * cluster+codes scan) derive it in the SAME projection instead of a
    * second scan + id join.
    */
  private[graft] def quantizeCol(c: Column): Column =
    transform(c, x => floor(x.cast("double") * 1000000d + 0.5d).cast("long"))

  /** e6-quantized coordinate arrays: (vec_id, xq Array[Long]). */
  private def quantized(embeddings: DataFrame): DataFrame =
    Tables.parallelized(embeddings)
      .select(col("vec_id"), quantizeCol(col("embedding")).as("xq"))

  /** Integer L2² distances of `xq` to every centroid, as an array column.
    *
    * The centroids enter as ONE typed literal array-of-arrays and the
    * distances as zip_with/aggregate lambdas — deliberately, instead of
    * unrolling k×dims (diff·diff) literal terms: the unrolled form
    * generates DIFFERENT codegen source every round (fresh literals) and
    * was measured paying ~1.5 s of recompilation per iteration, while
    * the lambda form keeps an identical plan shape across rounds (the
    * constants live in the expression's references) and its interpreted
    * per-row cost is k·dims integer ops — noise next to the scan.
    */
  private def distsCol(cents: Array[Array[Long]])(xq: Column): Column = {
    val centsLit = typedlit(cents.map(_.toSeq).toSeq)
    transform(centsLit, c =>
      aggregate(zip_with(xq, c, (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, v) => acc + v))
  }

  /** Argmin cluster id (lowest id on ties) for `xq` against the literal
    * centroid table — the assignment column, exposed for fused scans.
    */
  private[graft] def clusterCol(cents: Array[Array[Long]])(xq: Column): Column = {
    val dists = distsCol(cents)(xq)
    array_position(dists, array_min(dists)) - 1L
  }

  /** The nprobe nearest cluster ids (by (distance, cluster-id)) for `xq`
    * against the literal centroid table, as an array<long> column — the
    * query-side probe set of [[ivfProbeFrames]] as a fused expression.
    */
  private[graft] def probeClustersCol(
      cents: Array[Array[Long]], nprobe: Int)(xq: Column): Column = {
    val z = array_sort(transform(distsCol(cents)(xq),
      (d, i) => struct(d.as("dist"), i.as("cluster"))))
    transform(slice(z, 1, nprobe), p => p.getField("cluster").cast("long"))
  }

  /** Points with their argmin cluster for the given centroid table. */
  private def assign(pts: DataFrame, cents: Array[Array[Long]]): DataFrame =
    pts.select(col("vec_id"), col("xq"),
      clusterCol(cents)(col("xq")).as("cluster"))

  /** Runs `iters` fixed-point Lloyd rounds; returns (final centroids,
    * last-assignment sizes). Exposed for the spec's convergence checks.
    */
  private[graft] def run(
      embeddings: DataFrame, k: Int, iters: Int)
      : (Array[Array[Long]], Array[Long]) = {
    val pts = quantized(embeddings).persist(StorageLevel.MEMORY_AND_DISK)
    var cents: Array[Array[Long]] = pts.orderBy("vec_id").limit(k).collect()
      .map(_.getSeq[Long](1).toArray)
    require(cents.length == k, s"corpus smaller than k=$k")
    val sizes = new Array[Long](k)
    for (_ <- 1 to iters) {
      val cells = assign(pts, cents)
        .select(col("cluster"), posexplode(col("xq")).as(Seq("dim", "x")))
        .groupBy("cluster", "dim")
        .agg(sum("x").as("s"), count(lit(1)).as("n"))
        .collect() // k×64 cells — constant-size driver state per round
      java.util.Arrays.fill(sizes, 0L)
      val next = cents.map(_.clone())
      cells.foreach { r =>
        val cl = r.getLong(0).toInt
        val dim = r.getInt(1)
        next(cl)(dim) = r.getLong(2) / r.getLong(3) // JVM /: trunc-to-zero, = div
        sizes(cl) = r.getLong(3)
      }
      cents = next
    }
    pts.unpersist(false)
    (cents, sizes)
  }

  /** In-process frozen-centroid store, keyed by (embeddings table
    * contents, k, iters): the first consumer pays the Lloyd build ONCE
    * per (corpus, k) and every later consumer loads the k×64 integer
    * table — the index-artifact shape (production: centroids are a
    * PUBLISHED artifact every probe/assignment pass loads, never a
    * per-query re-fit; this is the [[DedupClusterOps.convergedLabels]]
    * pattern pointed at the ANN tier). Build cost stays honestly priced
    * by the two builder entries, which bypass the store:
    * `kmeans_lloyd` (k = [[K]]) and `ivf_build_centroids`
    * (k = [[listsFor]](n)). Content-token keying invalidates on table
    * rewrite; the values are plain JVM arrays (k×64 longs), so no
    * storage or session coupling.
    */
  private val centroidStore = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Array[Long]], Array[Long])]()

  private[graft] def frozenCentroids(
      s: SparkSession, dir: String, k: Int, iters: Int = Iters)
      : (Array[Array[Long]], Array[Long]) = {
    val key = java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString +
      "#" + k + "#" + iters + "#" + Tables.contentToken(dir, "embeddings")
    centroidStore.computeIfAbsent(
      key, _ => run(Tables.embeddings(s, dir), k, iters))
  }

  /** Registered query: (cluster, dim, centroid_fp, n) after [[Iters]]
    * rounds — k×64 rows, built on the driver from the constant-size
    * centroid table.
    */
  def kmeansLloyd(s: SparkSession, dir: String): DataFrame = {
    val (cents, sizes) = run(Tables.embeddings(s, dir), K, Iters)
    val rows = for {
      cl <- 0 until K
      d <- 0 until Dims
    } yield Row(cl.toLong, d.toLong, cents(cl)(d), sizes(cl))
    val schema = StructType(Seq(
      StructField("cluster", LongType, nullable = false),
      StructField("dim", LongType, nullable = false),
      StructField("centroid_fp", LongType, nullable = false),
      StructField("n", LongType, nullable = false)))
    s.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
      .orderBy("cluster", "dim")
  }

  /** DuckDB oracle: the IDENTICAL unrolled algorithm — quantize, init
    * from the k lowest ids, then per round an argmin assignment
    * (`row_number() ORDER BY dist, cluster` = lowest-cluster tie-break)
    * and an integer-mean update with empty-cluster carry, all in BIGINT.
    */
  /** Shared WITH-chain: quantize → init → `iters` unrolled rounds,
    * ending with centroid table `c<iters>` and assignment `a<iters>`.
    */
  private def oracleChain(k: Int, iters: Int): String =
    oracleChain(k.toString, iters)

  /** The same chain with the cluster count as a SQL EXPRESSION — so the
    * IVF knn graph's corpus-adaptive list count (`LIMIT (SELECT ...)`)
    * replays in DuckDB from count(*) exactly as the Spark side derives
    * it from `emb.count()`.
    */
  private def oracleChain(kExpr: String, iters: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH x AS MATERIALIZED (
         | SELECT vec_id, t.i - 1 AS dim,
         |  CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS xq
         | FROM embeddings CROSS JOIN (SELECT unnest(range(1, ${Dims + 1})) AS i) t),
         |ids AS (
         | SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS cluster
         | FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $kExpr)),
         |c0 AS MATERIALIZED (
         | SELECT ids.cluster, x.dim, x.xq AS c FROM ids JOIN x USING (vec_id))""".stripMargin)
    for (i <- 1 to iters) {
      sb.append(s""",
         |d$i AS MATERIALIZED (
         | SELECT x.vec_id, c.cluster, sum((x.xq - c.c) * (x.xq - c.c)) AS dist
         | FROM x JOIN c${i - 1} c ON x.dim = c.dim GROUP BY 1, 2),
         |a$i AS MATERIALIZED (
         | SELECT vec_id, cluster FROM (
         |  SELECT vec_id, cluster,
         |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
         |  FROM d$i) WHERE rn = 1),
         |m$i AS MATERIALIZED (
         | SELECT a.cluster, x.dim, sum(x.xq) // count(*) AS c
         | FROM a$i a JOIN x USING (vec_id) GROUP BY 1, 2),
         |c$i AS MATERIALIZED (
         | SELECT p.cluster, p.dim, coalesce(m.c, p.c) AS c
         | FROM c${i - 1} p LEFT JOIN m$i m ON p.cluster = m.cluster AND p.dim = m.dim)""".stripMargin)
    }
    sb.toString
  }

  def oracleSql(k: Int = K, iters: Int = Iters): String =
    oracleChain(k, iters) + s"""
       |SELECT CAST(c.cluster AS BIGINT) AS cluster, CAST(c.dim AS BIGINT) AS dim,
       | CAST(c.c AS BIGINT) AS centroid_fp, CAST(coalesce(sz.n, 0) AS BIGINT) AS n
       |FROM c$iters c LEFT JOIN (
       | SELECT cluster, count(*) AS n FROM a$iters GROUP BY 1) sz
       | ON c.cluster = sz.cluster
       |ORDER BY cluster, dim""".stripMargin

  /** Simplified-silhouette clustering-quality audit over the Lloyd twin's
    * FINAL centroids — the go/no-go a curation pipeline reads before
    * trusting cluster-balanced sampling or cluster-aware splits: per
    * cluster, size, the mean simplified silhouette
    * `s = (b − a) / max(a, b)` (a = squared distance to own centroid,
    * b = to the nearest OTHER centroid; milli fixed-point, integer div)
    * and the mean intra-cluster squared distance (compactness). Mean
    * s_milli near 0 ⇒ the cluster bleeds into a neighbor; near 1000 ⇒
    * well-separated. Centroid-based silhouette is the standard
    * O(n·k) surrogate for the O(n²) pairwise definition — the only one
    * that exists at corpus scale.
    *
    * Determinism: a and b are the 1st/2nd elements of the
    * struct-sorted (dist, cluster) array — ties break to the LOWEST
    * cluster id, exactly the oracle's `row_number() ORDER BY dist,
    * cluster`; all ratios are nonnegative-integer `div`.
    *
    * Scale shape: one assignment-style pass over the quantized corpus
    * (centroids are a k×dims plan literal), one k-row aggregate. The
    * Lloyd rounds it replays are the fixed [[Iters]]; everything else is
    * a single scan.
    */
  def kmeansSilhouette(s: SparkSession, dir: String): DataFrame =
    silhouetteOf(Tables.embeddings(s, dir), K, Iters,
      Some(frozenCentroids(s, dir, K)._1))

  private[graft] def silhouetteOf(
      emb: DataFrame, k: Int, iters: Int,
      centsIn: Option[Array[Array[Long]]] = None): DataFrame = {
    val cents = centsIn.getOrElse(run(emb, k, iters)._1)
    val centsLit = typedlit(cents.map(_.toSeq).toSeq)
    val dists = transform(centsLit, c =>
      aggregate(zip_with(col("xq"), c, (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, v) => acc + v))
    quantized(emb)
      .select(dists.as("ds"))
      // one sorted (dist, cluster) struct array; [0] = own cluster
      .select(expr(
        "array_sort(transform(ds, (d, i) -> struct(d AS dist, i AS cluster)))")
        .as("z"))
      .select(col("z")(0).getField("cluster").cast("long").as("cluster"),
        col("z")(0).getField("dist").as("a"),
        col("z")(1).getField("dist").as("b"))
      .withColumn("s_milli",
        expr("((b - a) * 1000) div greatest(greatest(a, b), 1L)"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"),
        sum("s_milli").as("sum_s"), sum("a").as("sum_a"))
      .select(col("cluster"), col("n"),
        expr("sum_s div n").as("mean_s_milli"),
        expr("sum_a div n").as("mean_intra_dist"))
      .orderBy("cluster")
  }

  /** External-validation twin of [[kmeansSilhouette]]: cluster PURITY
    * against the corpus's ground-truth `label` column — per cluster,
    * size, number of distinct labels present, the majority label (ties
    * to the lowest label id) and its milli share. Silhouette says the
    * geometry is tight; purity says the geometry agrees with the
    * labels — a curation pipeline wants both before trusting
    * cluster-balanced sampling to preserve class structure.
    *
    * Scale shape: one final-centroid assignment pass (k×dims literal),
    * one (cluster, label) aggregate — cells bounded by k·|labels|
    * regardless of corpus size — then a k-row ranking.
    */
  def kmeansPurity(s: SparkSession, dir: String): DataFrame =
    purityOf(Tables.embeddings(s, dir), K, Iters,
      Some(frozenCentroids(s, dir, K)._1))

  private[graft] def purityOf(
      emb: DataFrame, k: Int, iters: Int,
      centsIn: Option[Array[Array[Long]]] = None): DataFrame = {
    val cents = centsIn.getOrElse(run(emb, k, iters)._1)
    val assigned = assign(quantized(emb), cents)
    val cells = Tables.parallelized(emb)
      .select(col("vec_id"), col("label").cast("long").as("label"))
      .join(assigned.select(col("vec_id"), col("cluster")), "vec_id")
      .groupBy("cluster", "label").agg(count(lit(1)).as("c"))
    import org.apache.spark.sql.expressions.Window
    cells
      .withColumn("rk", row_number().over(
        Window.partitionBy("cluster")
          .orderBy(col("c").desc, col("label"))))
      .groupBy("cluster")
      .agg(sum("c").as("n"),
        count(lit(1)).as("n_labels"),
        max(when(col("rk") === 1, col("label"))).as("majority_label"),
        max(when(col("rk") === 1, col("c"))).as("maj_c"))
      .select(col("cluster"), col("n"), col("n_labels"),
        col("majority_label"),
        expr("(1000 * maj_c) div n").as("purity_milli"))
      .orderBy("cluster")
  }

  /** Cluster-balanced sampling (the D4/SemDeDup-family diversity step:
    * after dedup, cap each SEMANTIC cluster's contribution so a few
    * dense modes can't dominate the training mix): every vector files
    * into its frozen-centroid argmin cluster, each cluster keeps up to
    * an equal share `total div k` of the corpus in deterministic
    * hash-random order (h = (vec_id·2654435761) mod 1e9+7 — reproducible
    * across runs/engines, uncorrelated with insert order), and the gated
    * readout is one row per cluster: size, kept count, the kept-set
    * waterline hash, and the kept label diversity. Where
    * `sample_stratified` balances METADATA strata and `source_quota`
    * caps declared feeds, this balances LEARNED structure — the knob the
    * purity/silhouette audits above exist to justify.
    *
    * Scale shape: one assignment pass (k×dims literal, no join), the
    * per-cluster rank rides [[RankOps.withHierarchicalRank]] (bucketed
    * by `h div 1e6`, so no cluster ever sorts through one task), k-row
    * output.
    */
  def sampleClusterBalanced(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val cents = frozenCentroids(s, dir, K)._1
    val total = emb.count()
    val quota = total / K
    val assigned = assign(quantized(emb), cents)
      .select(col("vec_id"), col("cluster"))
      .join(Tables.parallelized(emb)
        .select(col("vec_id"), col("label").cast("long").as("label")), "vec_id")
      .withColumn("h", expr("(vec_id * 2654435761L) % 1000000007L"))
    RankOps.withHierarchicalRank(
      assigned, Seq("cluster"), "h", "vec_id", "h div 1000000", "rk")
      .withColumn("kept", (col("rk") <= quota).cast("long"))
      .groupBy("cluster")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum("kept").as("n_kept"),
        max(when(col("kept") === 1L, col("h"))).as("waterline_h"),
        count_distinct(when(col("kept") === 1L, col("label")))
          .as("labels_kept"))
      .orderBy("cluster")
  }

  /** Oracle for [[sampleClusterBalanced]]: shared Lloyd chain → argmin
    * assignment → the identical hash order, equal-share cut, rollup.
    */
  def sampleClusterBalancedOracleSql(k: Int = K, iters: Int = Iters): String =
    oracleChain(k, iters) + s""",
       |df2 AS (
       | SELECT x.vec_id, c.cluster, sum((x.xq - c.c) * (x.xq - c.c)) AS dist
       | FROM x JOIN c$iters c ON x.dim = c.dim GROUP BY 1, 2),
       |fa2 AS (
       | SELECT vec_id, cluster FROM (
       |  SELECT vec_id, cluster,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
       |  FROM df2) WHERE rn = 1),
       |hh AS (
       | SELECT fa2.vec_id, fa2.cluster,
       |  (fa2.vec_id * 2654435761) % 1000000007 AS h,
       |  CAST(e.label AS BIGINT) AS label
       | FROM fa2 JOIN embeddings e USING (vec_id)),
       |tot AS (SELECT count(*) AS n FROM hh),
       |r2 AS (
       | SELECT *, row_number() OVER (PARTITION BY cluster ORDER BY h, vec_id) AS rk
       | FROM hh),
       |sel AS (
       | SELECT *, CASE WHEN rk <= (SELECT n FROM tot) // $k THEN 1 ELSE 0 END AS kept
       | FROM r2)
       |SELECT CAST(cluster AS BIGINT) AS cluster,
       | count(*) AS n_vecs,
       | CAST(sum(kept) AS BIGINT) AS n_kept,
       | CAST(max(CASE WHEN kept = 1 THEN h END) AS BIGINT) AS waterline_h,
       | CAST(count(DISTINCT CASE WHEN kept = 1 THEN label END) AS BIGINT) AS labels_kept
       |FROM sel GROUP BY cluster ORDER BY cluster""".stripMargin

  /** Oracle: shared Lloyd chain → final assignment → the identical
    * (cluster, label) contingency and majority ranking.
    */
  def purityOracleSql(k: Int = K, iters: Int = Iters): String =
    oracleChain(k, iters) + s""",
       |df AS (
       | SELECT x.vec_id, c.cluster, sum((x.xq - c.c) * (x.xq - c.c)) AS dist
       | FROM x JOIN c$iters c ON x.dim = c.dim GROUP BY 1, 2),
       |fa AS (
       | SELECT vec_id, cluster FROM (
       |  SELECT vec_id, cluster,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
       |  FROM df) WHERE rn = 1),
       |cells AS (
       | SELECT fa.cluster, CAST(e.label AS BIGINT) AS label, count(*) AS c
       | FROM fa JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
       |rk AS (
       | SELECT *, row_number() OVER (PARTITION BY cluster
       |   ORDER BY c DESC, label) AS r
       | FROM cells)
       |SELECT CAST(cluster AS BIGINT) AS cluster, CAST(sum(c) AS BIGINT) AS n,
       | count(*) AS n_labels,
       | CAST(max(CASE WHEN r = 1 THEN label END) AS BIGINT) AS majority_label,
       | CAST((1000 * max(CASE WHEN r = 1 THEN c END)) // sum(c) AS BIGINT)
       |  AS purity_milli
       |FROM rk GROUP BY cluster ORDER BY cluster""".stripMargin

  /** Oracle: the shared Lloyd chain, then the same 1st/2nd-nearest
    * ranking off the final centroid table.
    */
  def silhouetteOracleSql(k: Int = K, iters: Int = Iters): String =
    oracleChain(k, iters) + s""",
       |df AS (
       | SELECT x.vec_id, c.cluster, sum((x.xq - c.c) * (x.xq - c.c)) AS dist
       | FROM x JOIN c$iters c ON x.dim = c.dim GROUP BY 1, 2),
       |rk AS (
       | SELECT vec_id, cluster, dist,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
       | FROM df),
       |ab AS (
       | SELECT vec_id,
       |  max(CASE WHEN rn = 1 THEN cluster END) AS cluster,
       |  max(CASE WHEN rn = 1 THEN dist END) AS a,
       |  max(CASE WHEN rn = 2 THEN dist END) AS b
       | FROM rk WHERE rn <= 2 GROUP BY 1),
       |sm AS (
       | SELECT cluster, a,
       |  ((b - a) * 1000) // greatest(greatest(a, b), 1) AS s_milli
       | FROM ab)
       |SELECT CAST(cluster AS BIGINT) AS cluster, count(*) AS n,
       | CAST(sum(s_milli) // count(*) AS BIGINT) AS mean_s_milli,
       | CAST(sum(a) // count(*) AS BIGINT) AS mean_intra_dist
       |FROM sm GROUP BY cluster ORDER BY cluster""".stripMargin

  /** SemDedup prune threshold: consecutive-neighbor pairs with rounded
    * cosine >= this are marked pruned. Calibrated to THIS corpus (pairwise
    * cosines top out near 0.5; the 99th percentile is ~0.29), so the
    * mechanism produces a non-empty decision set — a production corpus
    * with real semantic duplicates would run the same pass at ~0.9.
    */
  val SemDedupTau = 0.25

  /** Distance-shell band width for the within-cluster neighbor windows.
    * Unit-norm 64-dim vectors put squared-distance-to-centroid in a thin
    * shell (measured 1.5e12–2.1e12 at e6 quantization), so 1e11 bands
    * yield ~6–10 occupied bands per cluster independent of corpus size.
    */
  val SemDedupBand = 100000000000L

  /** SemDedup-style semantic near-duplicate pruning (Abbas et al. 2023):
    * cluster the embedding space, then mark within-cluster near-identical
    * vectors as pruned. The pairwise stage is the linear sorted-
    * neighborhood variant: within each final-Lloyd cluster, members sort
    * by (distance-to-centroid, vec_id) and each vector is compared to its
    * PREDECESSOR only — O(n) exact-cosine verifications instead of the
    * within-cluster O(n²), the same neighborhood discipline as
    * `dedup_sorted_neighborhood` but keyed on learned geometry rather
    * than lexical prefixes.
    *
    * Scale shape: one assignment pass (k×dims literal centroids), then
    * windows partitioned by (cluster, distance band). Parallelism is
    * k × bands here; in production SemDedup k itself scales with the
    * corpus (50k clusters on LAION), so window partitions stay bounded —
    * fixed K=8 is this repo's oracle-replay contract, not the deployment
    * shape. Emits the full per-vector decision list (cluster, band,
    * distance, predecessor, cosine, pruned flag), so the gate hashes
    * every assignment, every neighbor pairing, and every verdict.
    */
  def semdedupPrune(s: SparkSession, dir: String): DataFrame =
    semdedupOf(Tables.embeddings(s, dir), K, Iters,
      Some(frozenCentroids(s, dir, K)._1))

  private[graft] def semdedupOf(
      emb: DataFrame, k: Int, iters: Int,
      centsIn: Option[Array[Array[Long]]] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = centsIn.getOrElse(run(emb, k, iters)._1)
    val centsLit = typedlit(cents.map(_.toSeq).toSeq)
    val dists = transform(centsLit, c =>
      aggregate(zip_with(col("xq"), c, (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, v) => acc + v))
    val asg = quantized(emb)
      .select(col("vec_id"), dists.as("ds"))
      .select(col("vec_id"), expr(
        "array_sort(transform(ds, (d, i) -> struct(d AS dist, i AS cluster)))")
        .as("z"))
      .select(col("vec_id"),
        col("z")(0).getField("cluster").cast("long").as("cluster"),
        col("z")(0).getField("dist").as("dist_fp"))
      .withColumn("band", expr(s"dist_fp div ${SemDedupBand}L"))
    val w = Window.partitionBy("cluster", "band")
      .orderBy(col("dist_fp"), col("vec_id"))
    asg
      .join(Tables.parallelized(emb).select(col("vec_id"), col("embedding")),
        "vec_id")
      .withColumn("prev_id", lag(col("vec_id"), 1).over(w))
      .withColumn("prev_vec", lag(col("embedding"), 1).over(w))
      .withColumn("cosine_r6",
        when(col("prev_id").isNotNull,
          AnnOps.cosine(col("embedding"), col("prev_vec"))))
      .withColumn("pruned",
        when(col("cosine_r6") >= SemDedupTau, 1L).otherwise(0L))
      .select(col("cluster"), col("band"), col("vec_id"), col("dist_fp"),
        col("prev_id"), col("cosine_r6"), col("pruned"))
      .orderBy("vec_id")
  }

  /** Oracle: shared Lloyd chain → final-centroid assignment + distance →
    * the identical banded lag pairing and rounded-cosine verdicts.
    */
  def semdedupOracleSql(k: Int = K, iters: Int = Iters): String =
    oracleChain(k, iters) + s""",
       |df AS (
       | SELECT x.vec_id, c.cluster, sum((x.xq - c.c) * (x.xq - c.c)) AS dist
       | FROM x JOIN c$iters c ON x.dim = c.dim GROUP BY 1, 2),
       |own AS (
       | SELECT vec_id, cluster, dist AS dist_fp, dist // $SemDedupBand AS band
       | FROM (
       |  SELECT vec_id, cluster, dist,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
       |  FROM df) WHERE rn = 1),
       |lg AS (
       | SELECT vec_id, cluster, dist_fp, band,
       |  lag(vec_id) OVER (PARTITION BY cluster, band ORDER BY dist_fp, vec_id) AS prev_id
       | FROM own),
       |cs AS (
       | SELECT lg.*,
       |  round(
       |   list_sum(list_transform(list_zip(e.embedding, p.embedding),
       |     t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
       |   / (sqrt(list_sum(list_transform(e.embedding, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE))))
       |      * sqrt(list_sum(list_transform(p.embedding, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE))))), 6)
       |   AS cosine_r6
       | FROM lg JOIN embeddings e ON lg.vec_id = e.vec_id
       |  LEFT JOIN embeddings p ON lg.prev_id = p.vec_id)
       |SELECT CAST(cluster AS BIGINT) AS cluster, CAST(band AS BIGINT) AS band,
       | vec_id, CAST(dist_fp AS BIGINT) AS dist_fp, prev_id, cosine_r6,
       | CAST(CASE WHEN cosine_r6 >= $SemDedupTau THEN 1 ELSE 0 END AS BIGINT) AS pruned
       |FROM cs ORDER BY vec_id""".stripMargin

  val IvfProbes = 2

  /** Oracle-gated IVF top-k — the fixed-point twin of the MLlib-backed
    * `ann_ivf_topk` (rows-only by contract), exactly as [[kmeansLloyd]]
    * twins `kmeans_sizes`: the coarse quantizer is the Lloyd chain's
    * final centroid table, every corpus vector files into its argmin
    * list, each query probes its [[IvfProbes]] nearest lists, and exact
    * rounded-cosine ranks within the probed candidates. Every step is
    * integer-or-rounded, so DuckDB replays the whole index build AND the
    * search.
    *
    * Scale shape: the index build is one assignment pass (k×dims literal
    * centroids — a plan constant); the search joins the tiny broadcast
    * (query × probe) set against candidates hash-partitioned by list id,
    * touching ~nprobe/k of the corpus per query instead of all of it;
    * the ranking is the bounded map-side top-k aggregator shared with
    * every other ANN path. No N×Q product anywhere.
    */
  def ivfLloydTopK(
      s: SparkSession, dir: String,
      k: Int = 10, nQueries: Int = 5, nprobe: Int = IvfProbes): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val (cents, _) = frozenCentroids(s, dir, K)
    // Fused index side: the argmin list id derives from the literal
    // centroid table IN the candidate projection (one corpus scan, no
    // id join against a second assignment scan — the join carried the
    // whole corpus through an exchange just to attach a column this
    // expression computes in place). Same math, same lists.
    val cand = Tables.parallelized(emb)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"),
        clusterCol(cents)(quantizeCol(col("embedding"))).as("cluster"))
    // Fused query side: probes + raw query vector from ONE tiny scan.
    val qProbes = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"),
        explode(probeClustersCol(cents, nprobe)(
          quantizeCol(col("embedding")))).as("cluster"))
    val scored = cand
      .join(broadcast(qProbes), Seq("cluster"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        AnnOps.cosine(col("q_vec"), col("c_vec")).as("cosine_r6"))
    AnnOps.rankTopK(s, scored, k)
  }

  /** The IVF index + probe plan as id-only frames: `asg` files every
    * corpus vector into its argmin Lloyd list (c_id, cluster) and
    * `probes` holds each query's nprobe nearest lists (q_id, cluster) —
    * the shared candidate-generation seam under [[ivfLloydTopK]] (exact
    * re-rank) and [[PqOps.annIvfPqTopK]] (compressed ADC re-rank).
    * Payloads (raw vectors, PQ codes) attach downstream, so this seam
    * moves ids only.
    */
  private[graft] def ivfProbeFrames(
      s: SparkSession, dir: String, nQueries: Int, nprobe: Int)
      : (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, dir)
    val (cents, _) = frozenCentroids(s, dir, K)
    val pts = quantized(emb)
    val asg = assign(pts, cents).select(col("vec_id").as("c_id"),
      col("cluster"))
    val probes = pts.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"),
        explode(probeClustersCol(cents, nprobe)(col("xq"))).as("cluster"))
    (asg, probes)
  }

  /** Oracle: Lloyd chain → assignment lists + per-query probe ranking →
    * rounded-cosine row_number within probed candidates.
    */
  /** The IVF index + probe plan as CTEs (`asg`, `probes`) off the Lloyd
    * chain — the oracle twin of [[ivfProbeFrames]], shared by the exact
    * and PQ-compressed re-rank oracles.
    */
  private[graft] def ivfProbeChainSql(
      nQueries: Int, nprobe: Int,
      kClusters: Int = K, iters: Int = Iters): String =
    oracleChain(kClusters, iters) + ivfAsgSql(iters) + s""",
       |probes AS (
       | SELECT vec_id AS q_id, cluster FROM rkd
       | WHERE vec_id < $nQueries AND rn <= $nprobe)""".stripMargin

  def ivfLloydOracleSql(
      k: Int = 10, nQueries: Int = 5, nprobe: Int = IvfProbes,
      kClusters: Int = K, iters: Int = Iters): String =
    ivfProbeChainSql(nQueries, nprobe, kClusters, iters) + s""",
       |qv AS (
       | SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
       | WHERE vec_id < $nQueries),
       |cv AS (
       | SELECT a.c_id, a.cluster, e.embedding AS c_vec
       | FROM asg a JOIN embeddings e ON a.c_id = e.vec_id),
       |p AS (
       | SELECT q.q_id, c.c_id,
       |  round(
       |   list_sum(list_transform(list_zip(q.q_vec, c.c_vec),
       |     t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
       |   / (sqrt(list_sum(list_transform(q.q_vec, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE))))
       |      * sqrt(list_sum(list_transform(c.c_vec, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE))))), 6)
       |   AS cosine_r6
       | FROM qv q JOIN probes pr ON q.q_id = pr.q_id
       |  JOIN cv c ON pr.cluster = c.cluster
       | WHERE q.q_id <> c.c_id),
       |r AS (
       | SELECT q_id, c_id, cosine_r6,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine_r6 DESC, c_id) AS BIGINT) AS rank
       | FROM p)
       |SELECT q_id, c_id, rank, cosine_r6 FROM r WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  /** Recall@k of the oracle-gated IVF against the exact baseline — the
    * first recall audit where BOTH the index build and the comparison
    * are hash-verified end to end (the MLlib IVF audit is rows-only).
    */
  def annRecallIvfLloyd(s: SparkSession, dir: String): DataFrame =
    AnnOps.recallOf(AnnOps.annTopK(s, dir), ivfLloydTopK(s, dir))

  def annRecallIvfLloydOracleSql(): String =
    AnnOps.recallAuditSql(AnnOps.annTopkOracleSql(), ivfLloydOracleSql())

  // ---- IVF-bucketed approximate kNN graph ------------------------------

  /** Coarse-list count for [[knnGraphIvf]]: ⌊√n⌋ clamped to [8, 4096].
    * √n balances the two cost terms of an inverted-file index — the
    * assignment pass is O(n·lists·dims) and the per-vector candidate
    * work is O(nprobe·n/lists) — at O(n^1.5) total, the standard IVF
    * operating point (FAISS's nlist guidance is the same √n). The
    * SimHash knn-graph's failure mode (`ann_bucket_occupancy`: clustered
    * embeddings pile into one code regardless of width, max occupancy
    * 852 at sf1 ⇒ ΣC(occ,2) ≈ 2.7M pairs from concentration alone) is
    * structurally absent here: Lloyd centroids FOLLOW the density, so a
    * tight cluster is carved into ~equal lists instead of landing in one
    * bucket. Floor 8 keeps the tiny-corpus gate shape; cap 4096 bounds
    * the centroid literal at 4096×64 longs (2 MB broadcast-equivalent).
    */
  def listsFor(n: Long): Int =
    math.min(4096L, math.max(8L, math.sqrt(n.toDouble).floor.toLong)).toInt

  /** Probe width: the measured recall@3 ladder on the sf0.01 cohort is
    * 357‰ (nprobe 2) → 523‰ (4) → 714‰ (8) milli, vs the SimHash
    * knn-graph's 143‰ on the SAME cohort — 4 takes the 3.7× recall win
    * at 4·√n bounded candidates per vector; consumers needing more
    * recall turn this dial, cost strictly linear in it.
    */
  val KnnNprobe = 4

  /** FIXED-SIZE deterministic probe cohort for the recall audit: the 64
    * lowest vec_ids. r14 carved `vec_id % 37` — ~2.7% OF THE CORPUS, so
    * the exact baseline grew with n² /37 (measured exponent 0.87); a
    * fixed cohort keeps the audit O(cohort·n) with cohort a constant —
    * the §5 bounded-carve rule (`decontamination_ngram` precedent).
    */
  val KnnProbeCohort = 64

  /** IVF-bucketed approximate kNN graph — the bounded-candidate twin of
    * [[AnnOps.knnGraphAuto]]: every vector files into its nearest Lloyd
    * list, probes its [[KnnNprobe]] nearest lists, and exact rounded
    * cosine ranks the co-list candidates. Per-vector candidate work is
    * bounded by nprobe × list size (≈ nprobe·√n at the [[listsFor]]
    * operating point) no matter how clustered the corpus is — the
    * scale-safe alternative the SimHash occupancy audit motivates.
    *
    * Coverage contract: a vector whose probed lists hold no other
    * member drops out (no neighbor evidence), mirroring the SimHash
    * graph's empty-neighborhood contract. Candidates need no dedup:
    * each candidate lives in exactly one list, so a (q, c) pair arises
    * at most once even with multi-probe.
    *
    * Scale shape: one assignment pass over the quantized corpus
    * (centroids are a lists×dims plan literal), one truncation, then
    * id-only joins — embeddings attach AFTER candidate generation, so
    * the candidate shuffle carries (id, id) pairs, never vectors; the
    * ranking is the bounded map-side top-k aggregator shared with every
    * other ANN path.
    */
  def knnGraphIvf(
      s: SparkSession, dir: String,
      k: Int = 3, nprobe: Int = KnnNprobe): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    knnGraphIvfOf(s, emb, k, nprobe,
      Some(frozenCentroids(s, dir, listsFor(emb.count()))._1))
  }

  private[graft] def knnGraphIvfOf(
      s: SparkSession, emb: DataFrame, k: Int, nprobe: Int,
      centsIn: Option[Array[Array[Long]]] = None): DataFrame = {
    val cents = centsIn.getOrElse(run(emb, listsFor(emb.count()), Iters)._1)
    val centsLit = typedlit(cents.map(_.toSeq).toSeq)
    val dists = transform(centsLit, c =>
      aggregate(zip_with(col("xq"), c, (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, v) => acc + v))
    // One materialized pass computes each vector's own list AND its
    // probe lists (the n×lists distance scan is the expensive step —
    // truncation keeps the two consumers below from re-running it).
    val ranked = GraphOps.truncate(s, quantized(emb)
      .select(col("vec_id"), dists.as("ds"))
      .select(col("vec_id"), expr(
        "array_sort(transform(ds, (d, i) -> struct(d AS dist, i AS cluster)))")
        .as("z"))
      .select(col("vec_id"),
        expr("CAST(z[0].cluster AS BIGINT)").as("own"),
        expr(s"transform(slice(z, 1, $nprobe), p -> CAST(p.cluster AS BIGINT))")
          .as("pls")))
    val asg = ranked.select(col("vec_id").as("c_id"), col("own").as("cluster"))
    val probes = ranked.select(col("vec_id").as("q_id"),
      explode(col("pls")).as("cluster"))
    val cand = probes.join(asg, "cluster")
      .filter(col("q_id") =!= col("c_id"))
      .select("q_id", "c_id")
    val scored = cand
      .join(emb.select(col("vec_id").as("q_id"), col("embedding").as("qv")),
        "q_id")
      .join(emb.select(col("vec_id").as("c_id"), col("embedding").as("cv")),
        "c_id")
      .select(col("q_id"), col("c_id"),
        AnnOps.cosine(col("qv"), col("cv")).as("cosine_r6"))
    AnnOps.rankTopK(s, scored, k)
  }

  /** The corpus-adaptive list count as a DuckDB expression — the oracle
    * re-derives [[listsFor]] from count(*) exactly as the Spark side
    * derives it from `emb.count()`.
    */
  private def listsForSql: String =
    "(SELECT greatest(8, least(4096, CAST(floor(sqrt(count(*))) AS BIGINT))) FROM embeddings)"

  /** Shared oracle fragment: per-vector list ranking + final assignment
    * off the adaptive-k chain (`df` → `rkd` → `asg`).
    */
  private def ivfAsgSql(iters: Int): String =
    s""",
       |df AS (
       | SELECT x.vec_id, c.cluster, sum((x.xq - c.c) * (x.xq - c.c)) AS dist
       | FROM x JOIN c$iters c ON x.dim = c.dim GROUP BY 1, 2),
       |rkd AS (
       | SELECT vec_id, cluster,
       |  row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
       | FROM df),
       |asg AS (SELECT vec_id AS c_id, cluster FROM rkd WHERE rn = 1)""".stripMargin

  /** IVF knn chain ending at the ranked `r` CTE — shared by the graph
    * oracle, the recall audit, and the label-agreement twin.
    */
  private def knnIvfChainSql(nprobe: Int, iters: Int): String =
    oracleChain(listsForSql, iters) + ivfAsgSql(iters) + s""",
       |pls AS (SELECT vec_id AS q_id, cluster FROM rkd WHERE rn <= $nprobe),
       |p AS (
       | SELECT pr.q_id, a.c_id,
       |  round(
       |   list_sum(list_transform(list_zip(qe.embedding, ce.embedding),
       |     t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
       |   / (sqrt(list_sum(list_transform(qe.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
       |      * sqrt(list_sum(list_transform(ce.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6)
       |   AS cosine_r6
       | FROM pls pr JOIN asg a ON pr.cluster = a.cluster
       |  JOIN embeddings qe ON pr.q_id = qe.vec_id
       |  JOIN embeddings ce ON a.c_id = ce.vec_id
       | WHERE pr.q_id <> a.c_id),
       |r AS (
       | SELECT q_id, c_id, cosine_r6,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine_r6 DESC, c_id) AS BIGINT) AS rank
       | FROM p)""".stripMargin

  /** Oracle: adaptive-k Lloyd chain → per-vector list ranking → co-list
    * candidates (own list assignment × nprobe probe lists) →
    * rounded-cosine row_number. `probeFilter` restricts the emitted
    * graph (the recall audit's probe cohort).
    */
  def knnGraphIvfOracleSql(
      k: Int = 3, nprobe: Int = KnnNprobe, iters: Int = Iters,
      probeFilter: String = ""): String =
    knnIvfChainSql(nprobe, iters) + s"""
       |SELECT q_id, c_id, rank, cosine_r6 FROM r
       |WHERE rank <= $k $probeFilter
       |ORDER BY q_id, rank""".stripMargin

  /** Occupancy cap (in multiples of `targetBucket`) above which the
    * SimHash graph's candidate bound is considered broken: with every
    * bucket ≤ cap·target, per-vector SimHash candidate work is provably
    * ≤ (bits+1)·cap·target — linear in N. Above it the corpus is
    * concentrated (SimHash codes follow direction, not density, so a
    * tight cluster lands in ONE bucket no matter the width — the sf1
    * measurement: max occupancy 852 at target 16 ⇒ exponent 1.10).
    */
  val KnnOccCapFactor = 4L

  /** Auto-selecting k-NN graph — the registered `knn_graph` entry: reads
    * the SimHash occupancy meter ([[AnnOps.bucketOccupancy]]'s max) and
    * picks the machine whose candidate bound actually holds on THIS
    * corpus. Spread corpora (max occupancy ≤ [[KnnOccCapFactor]]×target)
    * keep the cheap SimHash bucket graph; concentrated ones ride the
    * Lloyd-IVF graph, whose per-vector work is nprobe×√n regardless of
    * clustering (centroids follow density, so a tight cluster is carved
    * into ~equal lists). Two scalar actions (count + max-occupancy — one
    * O(n) code pass each, the same poll budget as the Lloyd chain's
    * convergence reads); the oracle re-derives the identical decision
    * from count(*) and the same fixed-point codes, so the selection
    * itself is hash-gated, not trusted.
    */
  def knnGraphSelect(
      s: SparkSession, dir: String,
      k: Int = 3, targetBucket: Long = 16L): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val bits = AnnOps.bitsFor(emb.count(), targetBucket)
    val maxOcc = emb
      .select(AnnOps.simhashCode(col("embedding"), bits).as("code"))
      .groupBy("code").agg(count(lit(1)).as("occ"))
      .agg(max("occ").as("m")).head().getLong(0)
    if (maxOcc > KnnOccCapFactor * targetBucket) knnGraphIvf(s, dir, k)
    else AnnOps.knnGraph(s, dir, k, bits)
  }

  /** Oracle for [[knnGraphSelect]]: both graph chains as CTEs, each
    * branch filtered by the SAME max-occupancy decision the Spark side
    * polls (re-derived from the shared fixed-point code CTEs), UNION'd.
    * Exactly one branch is non-empty, so the gate hashes whichever
    * machine the decision picked — replaying the selection, not assuming
    * it. DuckDB evaluates both chains (fine at gate scale; the Spark
    * side runs only the selected one, which is the 100 TB claim).
    */
  /** The occupancy decision as a standalone scalar subquery — shared by
    * every oracle that replays the [[knnGraphSelect]] machine choice.
    */
  private def occDecisionSql(targetBucket: Long): String =
    s"""(WITH ${AnnOps.adaptiveCodesSql(targetBucket)}
       | SELECT max(cnt) > ${KnnOccCapFactor * targetBucket}
       | FROM (SELECT count(*) AS cnt FROM codesw GROUP BY code) t)""".stripMargin

  /** Both gated graph branches UNION'd as a chain ending in the ranked
    * `r(q_id, c_id, rank, cosine_r6)` CTE — composable with the
    * label-agreement tail exactly like the single-machine chains.
    */
  private def knnSelectChainSql(k: Int, targetBucket: Long): String = {
    val decision = occDecisionSql(targetBucket)
    s"""WITH sim AS (${AnnOps.knnGraphAutoOracleSql(k, targetBucket)}),
       |ivfg AS (${knnGraphIvfOracleSql(k)}),
       |r AS (
       | SELECT q_id, c_id, rank, cosine_r6 FROM sim WHERE NOT $decision
       | UNION ALL
       | SELECT q_id, c_id, rank, cosine_r6 FROM ivfg WHERE $decision)""".stripMargin
  }

  def knnGraphSelectOracleSql(k: Int = 3, targetBucket: Long = 16L): String =
    knnSelectChainSql(k, targetBucket) + s"""
       |SELECT q_id, c_id, rank, cosine_r6 FROM r
       |ORDER BY q_id, rank""".stripMargin

  /** kNN label-agreement over the AUTO-SELECTED graph — the registered
    * `knn_label_agreement` since r15: the mislabel rollup inherits the
    * occupancy-meter machine choice (clustered corpora ride the bounded
    * IVF graph, spread ones keep SimHash), so the audit's candidate work
    * is scale-bounded on any corpus shape. Identical rollup contract to
    * both single-machine twins ([[AnnOps.labelAgreementRollup]]).
    */
  def knnLabelAgreementSelect(
      s: SparkSession, dir: String, k: Int = 3): DataFrame =
    AnnOps.labelAgreementRollup(
      knnGraphSelect(s, dir, k), Tables.embeddings(s, dir))

  def knnLabelAgreementSelectOracleSql(
      k: Int = 3, targetBucket: Long = 16L): String =
    knnSelectChainSql(k, targetBucket) + AnnOps.labelAgreementTailSql(k)

  /** Registered entry: the √n-list centroid BUILD itself, priced
    * honestly — a direct [[run]] (bypassing [[frozenCentroids]], exactly
    * as `kmeans_lloyd` prices the k=[[K]] build), emitting the full
    * (cluster, dim, centroid_fp, n) index artifact every IVF consumer
    * loads. With the consumers riding the store, this row is where the
    * bench records what building the index actually costs.
    */
  def ivfBuildCentroids(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val kc = listsFor(emb.count())
    val (cents, sizes) = run(emb, kc, Iters)
    val rows = for {
      cl <- 0 until kc
      d <- 0 until Dims
    } yield Row(cl.toLong, d.toLong, cents(cl)(d), sizes(cl))
    val schema = StructType(Seq(
      StructField("cluster", LongType, nullable = false),
      StructField("dim", LongType, nullable = false),
      StructField("centroid_fp", LongType, nullable = false),
      StructField("n", LongType, nullable = false)))
    s.createDataFrame(new java.util.ArrayList[Row](
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
      .orderBy("cluster", "dim")
  }

  def ivfBuildCentroidsOracleSql(iters: Int = Iters): String =
    oracleChain(listsForSql, iters) + s"""
       |SELECT CAST(c.cluster AS BIGINT) AS cluster, CAST(c.dim AS BIGINT) AS dim,
       | CAST(c.c AS BIGINT) AS centroid_fp, CAST(coalesce(sz.n, 0) AS BIGINT) AS n
       |FROM c$iters c LEFT JOIN (
       | SELECT cluster, count(*) AS n FROM a$iters GROUP BY 1) sz
       | ON c.cluster = sz.cluster
       |ORDER BY cluster, dim""".stripMargin

  // ---- IVF ingest: frozen-centroid list assignment + list manifests ----

  /** Digest modulus for the per-list ingest manifest. */
  val IngestFpPrime = 1000000007L

  /** Stateless list assignment of vectors against FROZEN centroids — the
    * ingest-time half of IVF index maintenance: new vectors joining an
    * existing index are quantized and filed into their nearest list with
    * pure Column algebra (centroids are a plan literal, nothing joins or
    * shuffles), so the identical expressions run over a bounded batch or
    * an unbounded stream ([[graft.streaming.StreamingIvfIngest]]).
    * Emits `(vec_id, xq, list)`.
    */
  private[graft] def listAssignment(
      vecs: DataFrame, cents: Array[Array[Long]]): DataFrame =
    assign(
      vecs.select(col("vec_id"),
        expr("transform(embedding, x -> cast(floor(cast(x as double) * 1000000 + 0.5) as long))")
          .as("xq")),
      cents)
      .select(col("vec_id"), col("xq"), col("cluster").as("list"))

  /** Per-list ingest manifest over an assignment frame: vector count, id
    * range, and a running content digest (Σ per-vector fingerprint mod
    * [[IngestFpPrime]], the mod applied AT EMIT over an exact
    * decimal(38,0) state sum — the [[graft.streaming.StreamingManifest]]
    * monoid recipe, so a stream chopped into ANY batch decomposition
    * lands on the batch digest). State/output is one constant-width row
    * per list regardless of ingest volume.
    */
  private[graft] def ivfManifestAgg(asg: DataFrame): DataFrame =
    asg
      .select(col("vec_id"), col("list"),
        // Quantized coordinates are signed — renormalize each step into
        // [0, prime) so the digest is engine-portable by construction.
        expr(s"aggregate(xq, 0L, (acc, v) -> ((acc * 31 + v) % $IngestFpPrime + $IngestFpPrime) % $IngestFpPrime)")
          .as("fp"))
      .groupBy("list")
      .agg(
        count(lit(1)).as("n_vecs"),
        min("vec_id").as("id_lo"),
        max("vec_id").as("id_hi"),
        sum(col("fp").cast("decimal(38,0)")).as("fp_sum"))
      .select(col("list"), col("n_vecs"), col("id_lo"), col("id_hi"),
        expr(s"CAST(fp_sum % $IngestFpPrime AS BIGINT)").as("list_digest"))

  /** Registered entry: the batch replay of IVF ingest — freeze the Lloyd
    * chain's centroids at the [[listsFor]] operating point, file every
    * corpus vector into its list, and emit the per-list manifests an
    * index maintainer seals shards against. The streaming twin runs the
    * IDENTICAL assignment + manifest expressions over an unbounded
    * stream (differential-spec'd); the oracle replays centroid build,
    * assignment, fingerprints, and digests end to end.
    */
  def ivfIngestManifest(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val (cents, _) = frozenCentroids(s, dir, listsFor(emb.count()))
    // parallelized: the O(n·√n·d) assignment scan must not inherit a
    // row-group-starved file layout (§5 — the 67 s-serial trap); the
    // streaming twin skips this, its source sets the parallelism.
    ivfManifestAgg(listAssignment(Tables.parallelized(emb), cents))
      .orderBy("list")
  }

  def ivfIngestManifestOracleSql(iters: Int = Iters): String =
    oracleChain(listsForSql, iters) + ivfAsgSql(iters) + s""",
       |fpv AS (
       | SELECT vec_id,
       |  list_reduce(list_prepend(0::BIGINT, list(xq ORDER BY dim)),
       |    (acc, v) -> ((acc * 31 + v) % $IngestFpPrime + $IngestFpPrime) % $IngestFpPrime) AS fp
       | FROM x GROUP BY vec_id),
       |ing AS (
       | SELECT a.c_id AS vec_id, a.cluster AS list, f.fp
       | FROM asg a JOIN fpv f ON a.c_id = f.vec_id)
       |SELECT list, count(*) AS n_vecs, min(vec_id) AS id_lo,
       | max(vec_id) AS id_hi,
       | CAST(CAST(sum(fp) AS HUGEINT) % $IngestFpPrime AS BIGINT) AS list_digest
       |FROM ing GROUP BY list ORDER BY list""".stripMargin

  /** kNN label-agreement over the IVF graph — the bounded-candidate twin
    * of `knn_label_agreement` (which rides the SimHash graph, measured
    * superlinear at sf1 on clustered embeddings): identical mislabel
    * contract ([[AnnOps.labelAgreementRollup]]), candidate work bounded
    * by nprobe × list size. Clustered corpora run this one.
    */
  def knnLabelAgreementIvf(s: SparkSession, dir: String, k: Int = 3): DataFrame =
    AnnOps.labelAgreementRollup(
      knnGraphIvf(s, dir, k), Tables.embeddings(s, dir))

  def knnLabelAgreementIvfOracleSql(k: Int = 3): String =
    knnIvfChainSql(KnnNprobe, Iters) + AnnOps.labelAgreementTailSql(k)

  /** Recall@k of [[knnGraphIvf]] against the exact neighbors of the
    * fixed [[KnnProbeCohort]]-lowest-id probe cohort — the whole-graph
    * exact baseline is O(n²) and a modulo carve still scales with the
    * corpus, so the audit prices a CONSTANT number of probes (exact side
    * = cohort·n broadcast scores, approx side a 64-id semi-join) while
    * hashing every probe's full recall readout through the gate.
    */
  def knnRecallIvf(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val cohort = emb.select(col("vec_id")).orderBy("vec_id")
      .limit(KnnProbeCohort)
    val q = emb.join(broadcast(cohort), "vec_id")
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val scored = broadcast(q)
      .crossJoin(emb.select(col("vec_id").as("c_id"), col("embedding").as("cv")))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        AnnOps.cosine(col("qv"), col("cv")).as("cosine_r6"))
    val exact = AnnOps.rankTopK(s, scored, k)
    val approx = knnGraphIvf(s, dir, k)
      .join(broadcast(cohort.select(col("vec_id").as("q_id"))), Seq("q_id"),
        "left_semi")
    AnnOps.recallOf(exact, approx)
  }

  private def cohortSql: String =
    s"(SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $KnnProbeCohort)"

  private def knnExactProbeSql(k: Int): String =
    s"""WITH qv AS (
       | SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings
       | WHERE vec_id IN $cohortSql),
       |p AS (
       | SELECT q.q_id, e.vec_id AS c_id,
       |  round(
       |   list_sum(list_transform(list_zip(q.q_vec, e.embedding),
       |     t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
       |   / (sqrt(list_sum(list_transform(q.q_vec, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
       |      * sqrt(list_sum(list_transform(e.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6)
       |   AS cosine_r6
       | FROM qv q JOIN embeddings e ON q.q_id <> e.vec_id),
       |r AS (
       | SELECT q_id, c_id, cosine_r6,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine_r6 DESC, c_id) AS BIGINT) AS rank
       | FROM p)
       |SELECT q_id, c_id, rank, cosine_r6 FROM r WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  def knnRecallIvfOracleSql(k: Int = 3): String =
    AnnOps.recallAuditSql(
      knnExactProbeSql(k),
      knnGraphIvfOracleSql(k,
        probeFilter = s"AND q_id IN $cohortSql"))

  /** One NN-descent refinement round over [[knnGraphIvf]] (Dong et al.
    * 2011: a vector's true neighbors are usually neighbors OF its
    * current neighbors): candidates = the base graph's edges, their
    * reverses, and the 2-hop closure, re-scored exactly and re-ranked.
    * Per-vector candidate work is bounded by k + k + k² regardless of
    * corpus size or clustering — the refinement costs one id-only
    * self-join on the (tiny) edge list plus a shortlist re-score, and
    * buys back the recall the IVF list boundary loses (neighbors that
    * fall just outside the probed lists are reachable through a co-list
    * neighbor). The base graph is materialized ONCE (truncated) and
    * feeds all three candidate branches.
    */
  def knnGraphRefined(
      s: SparkSession, dir: String,
      k: Int = 3, nprobe: Int = KnnNprobe): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val base = GraphOps.truncate(s,
      knnGraphIvf(s, dir, k, nprobe).select("q_id", "c_id"))
    val rev = base.select(col("c_id").as("q_id"), col("q_id").as("c_id"))
    val nn2 = base.as("a")
      .join(base.as("b"), col("a.c_id") === col("b.q_id"))
      .select(col("a.q_id").as("q_id"), col("b.c_id").as("c_id"))
    val cand = base.union(rev).union(nn2)
      .filter(col("q_id") =!= col("c_id")).distinct()
    val scored = cand
      .join(emb.select(col("vec_id").as("q_id"), col("embedding").as("qv")),
        "q_id")
      .join(emb.select(col("vec_id").as("c_id"), col("embedding").as("cv")),
        "c_id")
      .select(col("q_id"), col("c_id"),
        AnnOps.cosine(col("qv"), col("cv")).as("cosine_r6"))
    AnnOps.rankTopK(s, scored, k)
  }

  /** Oracle for [[knnGraphRefined]]: the IVF chain once, then the
    * direct/reverse/2-hop candidate union (UNION dedups, mirroring the
    * Spark `.distinct()`), exact re-score, re-rank.
    */
  def knnGraphRefinedOracleSql(
      k: Int = 3, nprobe: Int = KnnNprobe, iters: Int = Iters,
      probeFilter: String = ""): String =
    knnIvfChainSql(nprobe, iters) + s""",
       |base AS MATERIALIZED (SELECT q_id, c_id FROM r WHERE rank <= $k),
       |cand AS MATERIALIZED (
       | SELECT q_id, c_id FROM base
       | UNION SELECT c_id AS q_id, q_id AS c_id FROM base
       | UNION SELECT a.q_id, b.c_id FROM base a JOIN base b ON a.c_id = b.q_id
       |  WHERE a.q_id <> b.c_id),
       |p2 AS (
       | SELECT cand.q_id, cand.c_id,
       |  round(
       |   list_sum(list_transform(list_zip(qe.embedding, ce.embedding),
       |     t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))
       |   / (sqrt(list_sum(list_transform(qe.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
       |      * sqrt(list_sum(list_transform(ce.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))), 6)
       |   AS cosine_r6
       | FROM cand
       |  JOIN embeddings qe ON cand.q_id = qe.vec_id
       |  JOIN embeddings ce ON cand.c_id = ce.vec_id),
       |r2 AS (
       | SELECT q_id, c_id, cosine_r6,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine_r6 DESC, c_id) AS BIGINT) AS rank
       | FROM p2)
       |SELECT q_id, c_id, rank, cosine_r6 FROM r2
       |WHERE rank <= $k $probeFilter
       |ORDER BY q_id, rank""".stripMargin

  /** Recall@k of the refined graph over the fixed probe cohort — read
    * beside [[knnRecallIvf]]: the pair prices what one NN-descent round
    * buys over the raw IVF graph.
    */
  def knnRecallRefined(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val cohort = emb.select(col("vec_id")).orderBy("vec_id")
      .limit(KnnProbeCohort)
    val q = emb.join(broadcast(cohort), "vec_id")
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val scored = broadcast(q)
      .crossJoin(emb.select(col("vec_id").as("c_id"), col("embedding").as("cv")))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
        AnnOps.cosine(col("qv"), col("cv")).as("cosine_r6"))
    val exact = AnnOps.rankTopK(s, scored, k)
    val approx = knnGraphRefined(s, dir, k)
      .join(broadcast(cohort.select(col("vec_id").as("q_id"))), Seq("q_id"),
        "left_semi")
    AnnOps.recallOf(exact, approx)
  }

  def knnRecallRefinedOracleSql(k: Int = 3): String =
    AnnOps.recallAuditSql(
      knnExactProbeSql(k),
      knnGraphRefinedOracleSql(k,
        probeFilter = s"AND q_id IN $cohortSql"))

  /** IVF list-occupancy histogram at the [[listsFor]] operating point —
    * the capacity meter for every Lloyd-list consumer, symmetric with
    * [[AnnOps.bucketOccupancy]]'s SimHash readout: per occupancy band,
    * how many lists and vectors sit there, the worst list, and the
    * exact own-list candidate work Σ C(occ, 2). Where SimHash buckets
    * CONCENTRATE on clustered corpora (max occupancy 852 at sf1),
    * Lloyd centroids follow the density — this is the audit that shows
    * the difference as a number instead of an argument. One assignment
    * pass + a lists-sized rollup.
    */
  def ivfListOccupancy(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val kc = listsFor(emb.count())
    val (cents, _) = frozenCentroids(s, dir, kc)
    val occ = assign(quantized(emb), cents)
      .groupBy("cluster").agg(count(lit(1)).as("occ"))
    occ
      .select(
        expr("""CASE WHEN occ <= 16 THEN '1-16' WHEN occ <= 32 THEN '17-32'
                WHEN occ <= 64 THEN '33-64' WHEN occ <= 128 THEN '65-128'
                ELSE '129+' END""").as("occupancy_band"),
        col("occ"))
      .groupBy("occupancy_band")
      .agg(
        count(lit(1)).as("lists"),
        sum("occ").as("vectors"),
        max("occ").as("max_occupancy"),
        sum(expr("(occ * (occ - 1)) div 2")).as("candidate_pairs"))
      .orderBy("occupancy_band")
  }

  def ivfListOccupancyOracleSql(iters: Int = Iters): String =
    oracleChain(listsForSql, iters) + ivfAsgSql(iters) + s""",
       |occ AS (SELECT cluster, count(*) AS occ FROM asg GROUP BY cluster),
       |b AS (
       | SELECT CASE WHEN occ <= 16 THEN '1-16' WHEN occ <= 32 THEN '17-32'
       |  WHEN occ <= 64 THEN '33-64' WHEN occ <= 128 THEN '65-128'
       |  ELSE '129+' END AS occupancy_band, occ
       | FROM occ)
       |SELECT occupancy_band, count(*) AS lists,
       | CAST(sum(occ) AS BIGINT) AS vectors,
       | CAST(max(occ) AS BIGINT) AS max_occupancy,
       | CAST(sum((occ * (occ - 1)) // 2) AS BIGINT) AS candidate_pairs
       |FROM b GROUP BY 1 ORDER BY occupancy_band""".stripMargin
}
