package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.Tables

/** Near-duplicate clustering + canonical survivor selection — the step a
  * real training-data pipeline runs AFTER pair detection: near-dup pairs
  * form a graph, its connected components are the duplicate clusters, and
  * exactly one document per cluster (the minimum doc_id) survives into the
  * training set.
  *
  * The pair stage is the exact inverted-index n-gram Jaccard
  * ([[MinHashOps.ngramJaccardPairs]]); clustering is min-label propagation
  * over the symmetrized pair graph ([[MinLabel]]), because duplicate
  * clusters are NOT just the pairs: A~B and B~C puts A,B,C in one cluster
  * even when (A,C) never passed the threshold.
  *
  * Scale notes (100 TB): the propagation graph holds only documents that
  * appear in >= 1 near-dup pair — a small fraction of the corpus — and
  * every shuffle carries (id, label) longs. Duplicate-cluster diameters
  * are short in practice (dup clusters are near-cliques because Jaccard
  * is transitive-ish at 0.6+), but the registered entries run
  * [[clustersConverged]], which iterates to the fixpoint and so also
  * covers adversarial chain-shaped corpora; the fixed-round [[clusters]]
  * is the bounded twin the specs compare it against.
  */
object DedupClusterOps {

  val Threshold = 600
  val Iters = 5

  /** Materialized-label store for the converged clustering: the first
    * consumer pays the pair detection + label propagation ONCE, writes
    * the labels to a session-external parquet, and every later consumer
    * — [[dedupSavings]], [[survivorQuality]], [[clusterSizes]],
    * [[SplitOps.splitAssignments]] — reads that file instead of
    * recomputing the identical clustering (the production shape: a
    * curation pipeline materializes cluster labels as a step output and
    * fans N reports off it; r13 measured ~37 s of the bench suite
    * re-deriving one clustering four times). Parquet, not `persist`:
    * the store must survive session recycling and cache clearing, and
    * on a real cluster a step output IS a table, not executor memory.
    *
    * Keys include a CONTENT TOKEN (per-file name+size+mtime of the
    * documents table), so regenerating the table at the same path within
    * one JVM invalidates naturally instead of serving stale labels.
    * The store directory is a [[ParquetStore]].
    */
  private val labelStore = new ParquetStore("graft-dedup-labels")

  /** The converged cluster labels for `dir`'s documents table, computed
    * at most once per (dir contents, threshold) and served from the
    * materialized parquet thereafter. Same schema as
    * [[clustersConverged]]._2.
    */
  def convergedLabels(
      s: SparkSession, dir: String,
      thresholdMilli: Int = Threshold): DataFrame =
    labelStore(s, dir,
      "#" + thresholdMilli + "#" + Tables.contentToken(dir, "documents")) {
      clustersConverged(s, Tables.documents(s, dir), thresholdMilli,
        pairsIn = Some(storePairs(s, dir, thresholdMilli)))._2
    }

  /** Per-document cluster assignment for every document in >= 1 near-dup
    * pair: `(doc_id, cluster, is_survivor)` where `cluster` is the
    * propagated minimum doc_id and the survivor is the cluster's minimum
    * member (keep-first semantics, matching [[TextOps.dedupExact]]).
    */
  def clusters(
      s: SparkSession,
      docs: DataFrame,
      thresholdMilli: Int = Threshold,
      iters: Int = Iters): DataFrame = {
    // df-capped pair graph (with the mass-duplication set-identity
    // exemption), so the clustering family shares the exact candidate
    // bound — and the exact pair view — of `dedup_ngram`.
    val pairs = MinHashOps.ngramJaccardPairs(docs, thresholdMilli,
        dfCap = Some(MinHashOps.defaultDfCap(docs.count())))
      .select(col("doc_a"), col("doc_b"))
    withSurvivor(MinLabel.fixed(s, symmetrized(pairs), "doc_id", "cluster",
      iters))
  }

  /** Registered-query entry over the `documents` table: the convergence-
    * checked mode, so the production entry point can never return
    * non-components — a fixed round count silently under-merges any
    * cluster whose pair-graph diameter exceeds it, and an oracle running
    * the identical unrolled algorithm cannot detect that. The oracle for
    * this entry ([[convergedOracleSql]]) is instead an INDEPENDENT
    * fixpoint (recursive reachability), so under-merging fails the gate.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    clustersConverged(s, Tables.documents(s, dir),
      pairsIn = Some(storePairs(s, dir, Threshold)))._2

  /** The [[MinHashOps.frozenPairs]] store filtered to a consumer's bar —
    * the exact frame `ngramJaccardPairs(docs, t, defaultDfCap)` builds,
    * read from the materialized pair index instead of re-running the
    * inverted-index stage per query.
    */
  private def storePairs(
      s: SparkSession, dir: String, thresholdMilli: Int): DataFrame =
    MinHashOps.frozenPairs(s, dir)
      .filter(col("jaccard_milli") >= thresholdMilli)
      .select(col("doc_a"), col("doc_b"))

  /** Convergence-checked clustering ([[MinLabel.converged]]) — the
    * 100×-scale-safe mode for adversarial chain-shaped dup clusters, where
    * a fixed round count would silently stop propagating. Returns (rounds
    * run, same schema as [[clusters]]).
    */
  def clustersConverged(
      s: SparkSession,
      docs: DataFrame,
      thresholdMilli: Int = Threshold,
      maxIters: Int = 50,
      pairsIn: Option[DataFrame] = None): (Int, DataFrame) = {
    // Same df-capped + set-exempted pair graph as `dedup_ngram` (see
    // [[clusters]]) — an uncapped graph here would re-open the C(df,2)
    // candidate bomb this family's siblings eliminated. Callers that
    // already materialized that exact pair set (split_leakage_audit)
    // inject it via `pairsIn` instead of paying the inverted-index
    // stage a second time.
    val pairs = pairsIn.getOrElse(
      MinHashOps.ngramJaccardPairs(docs, thresholdMilli,
        dfCap = Some(MinHashOps.defaultDfCap(docs.count()))))
      .select(col("doc_a"), col("doc_b"))
    val sym = symmetrized(pairs)
    val (rounds, labels) = MinLabel.converged(s, sym, "doc_id", "cluster",
      maxIters)
    sym.plain.unpersist(false)
    (rounds, withSurvivor(labels))
  }

  /** Both directions of every `(doc_a, doc_b)` pair, cached on both
    * paths: the pair pipeline is too dear to run once for the guard count
    * and again for the loop.
    */
  private def symmetrized(pairs: DataFrame): MinLabel.Guarded = {
    val sym = GraphOps.symmetric(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    MinLabel.Guarded(sym, () => sym)
  }

  /** `(doc_id, cluster, is_survivor)` ordered by doc: the survivor is the
    * cluster's minimum member.
    */
  private def withSurvivor(labels: DataFrame): DataFrame =
    labels
      .select(
        col("doc_id"),
        col("cluster"),
        (col("doc_id") === col("cluster")).cast("long").as("is_survivor"))
      .orderBy("doc_id")

  /** Shared oracle prefix: exact n-gram Jaccard pairs (same CTEs as the
    * `dedup_ngram` oracle), symmetrized, plus the node set.
    */
  private[operators] def pairGraphSql(thresholdMilli: Int): String =
    s""" ${MinHashOps.cappedCandCtes(materialized = true)},
       |pairs AS MATERIALIZED (
       | SELECT c.doc_a, c.doc_b
       | FROM cand c JOIN sh x ON c.doc_a = x.doc_id JOIN sh y ON c.doc_b = y.doc_id
       | WHERE (1000 * len(list_intersect(x.shingles, y.shingles)))
       |   // len(list_distinct(list_concat(x.shingles, y.shingles))) >= $thresholdMilli),
       |sym AS MATERIALIZED (
       | SELECT doc_a AS src, doc_b AS dst FROM pairs
       | UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |n0 AS MATERIALIZED (SELECT DISTINCT src AS doc_id FROM sym)""".stripMargin

  /** Independent fixpoint oracle for the converged entry: recursive
    * reachability closure (DuckDB `WITH RECURSIVE`, set-semantics UNION
    * iterates to a fixpoint) + min reachable id per node — TRUE connected
    * components by a different algorithm than the Spark side's label
    * propagation, so a Spark-side round-count bug fails the gate instead
    * of being mirrored by an identically-truncated oracle.
    */
  def convergedOracleSql(thresholdMilli: Int = Threshold): String =
    s"""WITH RECURSIVE${pairGraphSql(thresholdMilli)},
       |reach AS (
       | SELECT doc_id, doc_id AS r FROM n0
       | UNION
       | SELECT re.doc_id, e.dst AS r FROM reach re JOIN sym e ON re.r = e.src)
       |SELECT doc_id, min(r) AS cluster,
       | CAST(doc_id = min(r) AS BIGINT) AS is_survivor
       |FROM reach GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Dedup byte-savings readout per source: the chars and docs that
    * near-dup clustering ([[clustersConverged]], keep-min-id survivor)
    * would REMOVE, as a milli share of each source's bytes — the number
    * a curation owner actually negotiates feed contracts with. Rides the
    * converged cluster labels (cluster-member-sized) plus two
    * |sources|-row aggregates; sources with zero duplication still emit
    * a row.
    */
  def dedupSavings(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val dups = convergedLabels(s, dir)
      .filter(col("is_survivor") === 0L)
      .select("doc_id")
    val bySrc = docs.groupBy("source")
      .agg(count(lit(1)).as("docs"), sum("n_chars").as("chars"))
    val dupBySrc = dups
      .join(docs.select("doc_id", "source", "n_chars"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("dup_docs"), sum("n_chars").as("dup_chars"))
    bySrc.join(dupBySrc, Seq("source"), "left")
      .select(
        col("source"), col("docs"),
        col("chars").cast("long").as("chars"),
        coalesce(col("dup_docs"), lit(0L)).as("dup_docs"),
        coalesce(col("dup_chars"), lit(0L)).cast("long").as("dup_chars"))
      .withColumn("savings_milli", expr("(1000 * dup_chars) div chars"))
      .orderBy("source")
  }

  /** Quality-aware survivor selection — the policy question a real
    * pipeline answers after clustering: keep-min-id is deterministic but
    * blind; keeping the cluster member that PASSES the Gopher quality
    * filter (tie → min doc_id) retains a trainable document where the
    * min-id pick may retain a junk one. One row per duplicate cluster:
    * both policies' survivors, their `keep` flags, and whether the
    * policies disagree — so the gate hashes every decision and the
    * aggregate "how many clusters does the quality policy rescue" is a
    * one-line rollup the curator reads off the dump.
    *
    * Scale shape: cluster labels are pair-member-sized; the quality
    * flags attach by doc_id join (one scan, no shuffle beyond the
    * label join); the per-cluster argmin/argmax is a single aggregate
    * with struct-ordering (no window over the corpus). Output =
    * |clusters| rows.
    */
  def survivorQuality(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val labels = convergedLabels(s, dir).select("doc_id", "cluster")
    val member = labels.join(
      TextOps.qualityFlags(docs).select(col("doc_id"), col("keep")), "doc_id")
    member
      .groupBy("cluster")
      .agg(
        count(lit(1)).as("members"),
        min("doc_id").as("minid_survivor"),
        // argmin over (doc_id) given keep DESC: struct ordering picks the
        // lowest (1 - keep, doc_id), i.e. a keep=1 doc when one exists.
        min(struct((lit(1L) - col("keep")).as("nk"), col("doc_id")))
          .getField("doc_id").as("quality_survivor"),
        max("keep").as("quality_keep"),
        min(struct(col("doc_id"), col("keep"))).getField("keep")
          .as("minid_keep"))
      .select(
        col("cluster"), col("members"),
        col("minid_survivor"), col("minid_keep"),
        col("quality_survivor"), col("quality_keep"),
        (col("minid_survivor") =!= col("quality_survivor")).cast("long")
          .as("changed"))
      .orderBy("cluster")
  }

  /** Oracle: recursive-reachability clusters + the `quality_filter` CTEs,
    * same struct-free argmin via window ranks.
    */
  def survivorQualityOracleSql(thresholdMilli: Int = Threshold): String =
    s"""WITH RECURSIVE${pairGraphSql(thresholdMilli)},
       |reach AS (
       | SELECT doc_id, doc_id AS r FROM n0
       | UNION
       | SELECT re.doc_id, e.dst AS r FROM reach re JOIN sym e ON re.r = e.src),
       |lab AS (SELECT doc_id, min(r) AS cluster FROM reach GROUP BY doc_id),
       |qf AS (
       | SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens,
       |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS n_chars_nows,
       |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct,
       |  CAST(len(regexp_extract_all(text, '\\b(the|and|is|of|to|in|it|a)\\b')) AS BIGINT) AS n_stopwords
       | FROM documents),
       |k AS (
       | SELECT doc_id,
       |  CAST((CAST(n_tokens < 20 AS BIGINT)
       |   + CAST((1000 * n_chars_nows) // greatest(n_tokens, 1) NOT BETWEEN 3000 AND 5000 AS BIGINT)
       |   + CAST(n_stopwords = 0 AS BIGINT)
       |   + CAST((1000 * n_punct) // greatest(n_tokens, 1) > 200 AS BIGINT)) = 0 AS BIGINT) AS keep
       | FROM qf),
       |mem AS (
       | SELECT lab.cluster, lab.doc_id, k.keep,
       |  row_number() OVER (PARTITION BY lab.cluster ORDER BY lab.doc_id) AS rid,
       |  row_number() OVER (PARTITION BY lab.cluster ORDER BY 1 - k.keep, lab.doc_id) AS rq
       | FROM lab JOIN k USING (doc_id))
       |SELECT cluster, count(*) AS members,
       | CAST(min(CASE WHEN rid = 1 THEN doc_id END) AS BIGINT) AS minid_survivor,
       | CAST(min(CASE WHEN rid = 1 THEN keep END) AS BIGINT) AS minid_keep,
       | CAST(min(CASE WHEN rq = 1 THEN doc_id END) AS BIGINT) AS quality_survivor,
       | CAST(max(keep) AS BIGINT) AS quality_keep,
       | CAST(min(CASE WHEN rid = 1 THEN doc_id END)
       |  <> min(CASE WHEN rq = 1 THEN doc_id END) AS BIGINT) AS changed
       |FROM mem GROUP BY cluster ORDER BY cluster""".stripMargin

  /** Duplicate-cluster size histogram: clusters, docs, removable docs
    * (all but one survivor) and removable chars per size bucket
    * (2, 3, 4, 5–8, 9+) — the shape readout behind survivor-policy and
    * transitive-merge-risk decisions (a corpus whose mass sits in 9+
    * chains needs the convergence-checked clustering and a re-verify
    * pass; pair-dominated corpora don't). Cluster labels are
    * pair-member-sized; everything after is two bounded aggregates.
    */
  def clusterSizes(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val labels = convergedLabels(s, dir).select("doc_id", "cluster")
    val perCluster = labels
      .join(docs.select("doc_id", "n_chars"), "doc_id")
      .groupBy("cluster")
      .agg(count(lit(1)).as("size"),
        sum("n_chars").cast("long").as("chars"),
        sum(when(col("doc_id") =!= col("cluster"), col("n_chars"))
          .otherwise(lit(0L))).cast("long").as("dup_chars"))
    perCluster
      .select(
        expr("""CASE WHEN size <= 4 THEN CAST(size AS STRING)
                WHEN size <= 8 THEN '5-8' ELSE '9+' END""").as("size_bucket"),
        col("size"), col("chars"), col("dup_chars"))
      .groupBy("size_bucket")
      .agg(
        count(lit(1)).as("clusters"),
        sum("size").as("docs"),
        (sum("size") - count(lit(1))).as("removable_docs"),
        sum("dup_chars").as("removable_chars"))
      .orderBy("size_bucket")
  }

  /** Oracle: recursive-reachability clusters rolled up by size bucket. */
  def clusterSizesOracleSql(thresholdMilli: Int = Threshold): String =
    s"""WITH RECURSIVE${pairGraphSql(thresholdMilli)},
       |reach AS (
       | SELECT doc_id, doc_id AS r FROM n0
       | UNION
       | SELECT re.doc_id, e.dst AS r FROM reach re JOIN sym e ON re.r = e.src),
       |lab AS (SELECT doc_id, min(r) AS cluster FROM reach GROUP BY doc_id),
       |pc AS (
       | SELECT lab.cluster, count(*) AS size,
       |  CAST(sum(d.n_chars) AS BIGINT) AS chars,
       |  CAST(sum(CASE WHEN lab.doc_id <> lab.cluster THEN d.n_chars ELSE 0 END) AS BIGINT) AS dup_chars
       | FROM lab JOIN documents d USING (doc_id) GROUP BY lab.cluster)
       |SELECT CASE WHEN size <= 4 THEN CAST(size AS VARCHAR)
       |  WHEN size <= 8 THEN '5-8' ELSE '9+' END AS size_bucket,
       | count(*) AS clusters,
       | CAST(sum(size) AS BIGINT) AS docs,
       | CAST(sum(size) - count(*) AS BIGINT) AS removable_docs,
       | CAST(sum(dup_chars) AS BIGINT) AS removable_chars
       |FROM pc GROUP BY 1 ORDER BY size_bucket""".stripMargin

  /** Oracle: the same independent recursive-reachability components as
    * [[convergedOracleSql]], rolled up to source-level removal totals.
    */
  def dedupSavingsOracleSql(thresholdMilli: Int = Threshold): String =
    s"""WITH RECURSIVE${pairGraphSql(thresholdMilli)},
       |reach AS (
       | SELECT doc_id, doc_id AS r FROM n0
       | UNION
       | SELECT re.doc_id, e.dst AS r FROM reach re JOIN sym e ON re.r = e.src),
       |lab AS (SELECT doc_id, min(r) AS cluster FROM reach GROUP BY doc_id),
       |dups AS (SELECT doc_id FROM lab WHERE doc_id <> cluster),
       |b AS (
       | SELECT source, count(*) AS docs, sum(n_chars) AS chars
       | FROM documents GROUP BY source),
       |d AS (
       | SELECT d2.source, count(*) AS dup_docs, sum(d2.n_chars) AS dup_chars
       | FROM dups JOIN documents d2 USING (doc_id) GROUP BY d2.source)
       |SELECT b.source, b.docs, CAST(b.chars AS BIGINT) AS chars,
       | CAST(coalesce(d.dup_docs, 0) AS BIGINT) AS dup_docs,
       | CAST(coalesce(d.dup_chars, 0) AS BIGINT) AS dup_chars,
       | CAST((1000 * coalesce(d.dup_chars, 0)) // b.chars AS BIGINT)
       |  AS savings_milli
       |FROM b LEFT JOIN d ON b.source = d.source ORDER BY b.source""".stripMargin

  /** Dedup-machine consensus: every document flagged by each of the
    * three lexical dedup machines — exact (sha256 of the raw text),
    * normalized (C4-style lower/strip digest), and near-dup (≥ threshold
    * exact n-gram Jaccard through the capped candidate path) — rolled up
    * to the 2×2×2 contingency. The cells are the curation decision
    * table: (0,1,·) is what normalization alone recovers, (·,·,1)-only
    * is what shingle similarity adds, and any (1,·,0) mass is a RECALL
    * HOLE in the capped candidate generation (an exact duplicate the
    * near-dup path failed to pair) — surfaced as a gated number instead
    * of an assumption.
    *
    * Scale shape: two digest exchanges (16/32-byte keys) and the capped
    * pair machinery the cluster family already prices; the contingency
    * rollup is map-side combined over 8 cells.
    */
  def dedupConsensus(
      s: SparkSession, dir: String,
      thresholdMilli: Int = Threshold): DataFrame =
    dedupConsensusOf(Tables.documents(s, dir), thresholdMilli,
      pairsIn = Some(storePairs(s, dir, thresholdMilli)))

  /** [[dedupConsensus]] over an arbitrary documents frame — the spec's
    * planted-verdicts seam.
    */
  private[graft] def dedupConsensusOf(
      docs: DataFrame, thresholdMilli: Int,
      pairsIn: Option[DataFrame] = None): DataFrame = {
    def digestFlag(d: org.apache.spark.sql.Column, name: String) = {
      val keyed = docs.select(col("doc_id"), d.as("d"))
      keyed.join(keyed.groupBy("d").agg(count(lit(1)).as("c")), "d")
        .select(col("doc_id"), (col("c") > 1).cast("long").as(name))
    }
    val exFlag = digestFlag(sha2(col("text"), 256), "f_exact")
    val nmFlag = digestFlag(
      sha2(TextOps.normalizeText(col("text")), 256), "f_norm")
    val pairs = pairsIn.getOrElse(
      MinHashOps.ngramJaccardPairs(docs, thresholdMilli,
        Some(MinHashOps.defaultDfCap(docs.count()))))
    val near = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
      .withColumn("f_near", lit(1L))
    exFlag.join(nmFlag, "doc_id")
      .join(near, Seq("doc_id"), "left")
      .na.fill(0L, Seq("f_near"))
      .groupBy("f_exact", "f_norm", "f_near")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("f_exact", "f_norm", "f_near")
  }

  /** DuckDB oracle for [[dedupConsensus]] — the shared capped pair CTEs
    * plus the two digest groupings.
    */
  def dedupConsensusOracleSql(thresholdMilli: Int = Threshold): String =
    s"""WITH${pairGraphSql(thresholdMilli)},
       |exd AS (SELECT doc_id, sha256(text) AS d FROM documents),
       |exc AS (SELECT d, count(*) AS c FROM exd GROUP BY d),
       |exf AS (
       | SELECT exd.doc_id, CAST(exc.c > 1 AS BIGINT) AS f_exact
       | FROM exd JOIN exc USING (d)),
       |nmd AS (
       | SELECT doc_id,
       |  sha256(trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '', 'g'),
       |   '\\s+', ' ', 'g'))) AS d
       | FROM documents),
       |nmc AS (SELECT d, count(*) AS c FROM nmd GROUP BY d),
       |nmf AS (
       | SELECT nmd.doc_id, CAST(nmc.c > 1 AS BIGINT) AS f_norm
       | FROM nmd JOIN nmc USING (d))
       |SELECT f_exact, f_norm,
       | CAST(CASE WHEN n0.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS f_near,
       | count(*) AS n_docs
       |FROM exf JOIN nmf USING (doc_id) LEFT JOIN n0 ON exf.doc_id = n0.doc_id
       |GROUP BY 1, 2, 3 ORDER BY f_exact, f_norm, f_near""".stripMargin
}
