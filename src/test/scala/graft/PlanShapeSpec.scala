package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{TextOps, WindowOps}

/** Plan-shape proofs for the r6 additions: the properties SURVEY §5
  * claims are asserted on the executed plan, not just documented — a
  * regression that reintroduces a shuffle or drops a broadcast fails CI,
  * not a 100 TB run.
  */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = TestSession.sf

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // materialize so AQE finalizes the adaptive plan
    df.queryExecution.executedPlan.toString
  }

  test("repetition_stats computes with zero shuffles before the output sort") {
    val plan = executedPlan(TextOps.repetitionStats(spark, sf))
    // The only exchange allowed is the rangepartitioning for ORDER BY
    // (the plan string prints the initial AND final adaptive plan, so
    // assert on the kinds present, not occurrence counts).
    val exchanges = "Exchange (hash|range)partitioning".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(exchanges == Set("range"), s"unexpected exchanges $exchanges in:\n$plan")
  }

  test("ngram_repetition computes with zero shuffles before the output sort") {
    val plan = executedPlan(TextOps.ngramRepetition(spark, sf))
    val exchanges = "Exchange (hash|range)partitioning".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(exchanges == Set("range"), s"unexpected exchanges $exchanges in:\n$plan")
  }

  test("decontamination anti-join broadcasts the eval digests") {
    val plan = executedPlan(TextOps.decontaminationStats(spark, sf))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"anti-join not broadcast in:\n$plan")
    // The training-side scan must not be exchanged for the anti-join:
    // no hashpartitioning on the digest column.
    assert(!plan.contains("Exchange hashpartitioning(text_hash"), plan)
  }

  test("quantiles histogram plan aggregates before any window work") {
    val plan = executedPlan(WindowOps.quantilesDensityByFlag(spark, sf))
    // Row-volume work happens in the distributed groupBy: a hash
    // aggregate must appear; the window runs over the collapsed
    // histogram. A row-level row_number formulation would have Window
    // directly over the scan with no prior aggregate.
    val aggIdx = plan.indexOf("HashAggregate")
    val winIdx = plan.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0, plan)
    assert(plan.lastIndexOf("HashAggregate") > winIdx,
      s"no aggregate below the window (histogram collapsed first):\n$plan")
  }

  test("top_bigrams collapses to a bounded TakeOrdered, not a global sort") {
    val plan = executedPlan(TextOps.topBigrams(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("ngram decontamination broadcasts the eval grams — corpus side never shuffles") {
    val plan = executedPlan(TextOps.decontaminationNgram(spark, sf))
    // The gram-key join must be a broadcast build of the eval side — the
    // corpus side's exploded grams then stream through map-side with no
    // exchange for the join. (The eval side's own distinct legitimately
    // shuffles its small gram set.)
    assert("BroadcastHashJoin \\[g#".r.findFirstIn(plan).isDefined,
      s"gram join not broadcast in:\n$plan")
    // r9: the registered eval side is a FIXED-SIZE carve ([[TextOps
    // .EvalCarveDocs]] docs by smallest fingerprint), selected with a
    // bounded TakeOrderedAndProject — never a global sort, never a
    // %-of-corpus filter whose broadcast grows with N (the r8
    // scale-killer). The carve also feeds the train anti-join as a
    // broadcast build.
    assert(plan.contains("TakeOrderedAndProject"),
      s"eval carve is not a bounded top-k in:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"train side not carved via anti-join in:\n$plan")
  }

  test("tfidf broadcasts the vocabulary-sized df table") {
    val plan = executedPlan(graft.operators.TfIdfOps.tfidfTopTerms(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"df table not broadcast in:\n$plan")
  }

  test("pii redaction is a zero-shuffle map pass") {
    val plan = executedPlan(graft.operators.PiiOps.piiRedact(spark, sf))
    val exchanges = "Exchange (hash|range)partitioning".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(exchanges == Set("range"), s"unexpected exchanges $exchanges in:\n$plan")
  }

  test("cms counter build and probe broadcast the fixed-size counter table") {
    val plan = executedPlan(graft.operators.SketchOps.cmsUserCounts(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"counters not broadcast in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k truth ranking is a global sort in:\n$plan")
  }

  test("outlier audit broadcasts the per-type stats row set") {
    val plan = executedPlan(graft.operators.StatsOps.outlierEvents(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), s"stats not broadcast in:\n$plan")
  }

  test("multi-suite decontamination broadcasts the tagged gram set in one pass") {
    val plan = executedPlan(TextOps.decontaminationNgramMulti(spark, sf))
    // One broadcast build of the (suite_id, gram) set; the corpus-side
    // exploded grams stream through map-side — no exchange keyed on the
    // gram column, and only ONE scan pass over the train side's grams
    // (K suites must not multiply corpus work).
    assert("BroadcastHashJoin \\[g#".r.findFirstIn(plan).isDefined,
      s"gram join not broadcast in:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(g#"),
      s"corpus grams shuffled on the gram key in:\n$plan")
    assert(plan.contains("LeftAnti"), s"train side not carved in:\n$plan")
  }

  test("PQ encode is a join-free single-scan map over the corpus") {
    val plan = executedPlan(graft.operators.PqOps.pqEncode(spark, sf))
    // The frozen codebook enters as a typed literal (a plan constant,
    // the Lloyd-centroid pattern): encoding is ONE scan projection with
    // no join and no exchange of any kind.
    assert(!plan.contains("Join"), s"unexpected join in:\n$plan")
    assert(!plan.contains("Exchange"), s"unexpected exchange in:\n$plan")
    assert("Scan parquet".r.findAllMatchIn(plan).size == 1,
      s"expected exactly one scan in:\n$plan")
  }

  test("PQ search broadcasts queries+tables; only the bounded top-k shuffles") {
    val plan = executedPlan(graft.operators.PqOps.annPqTopK(spark, sf))
    // Scoring streams the coded corpus against broadcast query tables —
    // the only hash exchange is the nQueries-keyed partial-agg top-k
    // (objectHashAggregate over q_id), never a corpus-wide repartition.
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"query tables not broadcast in:\n$plan")
    val hashExchanges = "Exchange hashpartitioning\\((\\w+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(hashExchanges.forall(_.startsWith("value")) || hashExchanges.forall(_.startsWith("q_id")),
      s"unexpected hash exchanges on $hashExchanges in:\n$plan")
  }

  test("ri_audit existence joins never repartition a fact table") {
    val plan = executedPlan(graft.operators.JoinOps.riAudit(spark, sf))
    // part/supplier/nation existence sides broadcast; the only hash
    // exchanges allowed are on join keys of the orders-side lookups and
    // the dimension-distinct aggregations — never a fact repartition
    // for a broadcast-able dim.
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"existence joins not broadcast in:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(l_partkey") &&
      !plan.contains("Exchange hashpartitioning(l_suppkey"),
      s"lineitem repartitioned for a dim lookup in:\n$plan")
  }

  test("length_quartiles never funnels a language through one task") {
    val plan = executedPlan(WindowOps.lengthQuartiles(spark, sf))
    // The naive ntile-over-(partition by lang) formulation plans an
    // Exchange SinglePartition (or a lang-only hash partitioning feeding
    // a full-language sort). The hierarchical rank must shuffle on
    // (lang, vb) — every window partition is value-bucket-bounded.
    assert(!plan.contains("Exchange SinglePartition"),
      s"single-partition window in:\n$plan")
    assert(plan.contains("Exchange hashpartitioning(lang") &&
      plan.contains("vb"), s"rank not bucket-partitioned in:\n$plan")
  }

  test("star_ship_priority pushes both date cutoffs into the parquet scans") {
    val df = graft.operators.StarOps.shippingPriority(spark, sf)
    df.collect()
    // Pushed filters live on the FileSourceScan nodes; an NTZ-vs-LTZ cast
    // on the column side would silently drop them (the r9 bug this pins).
    val scans = df.queryExecution.executedPlan.collectLeaves().map(_.toString)
    assert(scans.exists(p => p.contains("o_orderdate") && p.contains("LessThan")),
      s"orders cutoff not pushed:\n${scans.mkString("\n")}")
    assert(scans.exists(p => p.contains("l_shipdate") && p.contains("GreaterThan")),
      s"lineitem cutoff not pushed:\n${scans.mkString("\n")}")
  }

  test("star_brand_margin broadcasts every dimension arm") {
    val plan = executedPlan(graft.operators.StarOps.brandNationMargin(spark, sf))
    // nation + supplier are hint-broadcast; part auto-broadcasts at test
    // SF (at 100 TB it exceeds the threshold and AQE keeps a shuffle
    // join — that path is exercised by the threshold config, not here).
    val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
    assert(bhj >= 3, s"expected 3 broadcast joins, got $bhj in:\n$plan")
    // The fact scan must not be repartitioned before the joins: the only
    // hash exchange keys are the grouping columns.
    assert(!plan.contains("Exchange hashpartitioning(l_partkey") &&
      !plan.contains("Exchange hashpartitioning(l_suppkey"),
      s"fact side shuffled for a dim join in:\n$plan")
  }

  test("ann_lsh_topk broadcasts the probe set — corpus side never shuffles for the bucket join") {
    // The probe side is nQueries x |masks| rows by construction; a planner
    // drift to a shuffle join on c_code would shuffle the whole corpus for
    // a ~200-row probe set (a 28x regression was measured under exactly
    // that drift on the r9 driver box). The broadcast is now pinned in
    // AnnOps.annLshTopK; this asserts it structurally.
    val df = graft.operators.AnnOps.annLshTopKRegistered(spark, sf)
    val plan = executedPlan(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"probe set not broadcast in:\n$plan")
    // The corpus (candidate) side must reach the bucket join scan-local:
    // no hash exchange keyed on the simhash bucket code may exist.
    assert(!"Exchange hashpartitioning\\(c_code".r.findFirstIn(plan).isDefined,
      s"corpus shuffled on bucket code in:\n$plan")
  }

  test("sample_weighted: carry window runs over bucket aggregates, not corpus rows") {
    // The flat serial prefix sum lives only in the oracle; the Spark plan
    // must collapse to per-bucket sums (HashAggregate) BEFORE the
    // partition-less carry window touches anything.
    val plan = executedPlan(graft.operators.SampleOps.sampleWeighted(spark, sf))
    val aggIdx = plan.indexOf("HashAggregate")
    val winIdx = plan.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0, s"missing agg/window in:\n$plan")
    assert(plan.contains("Sort") && plan.contains("bk"),
      s"bucket machinery absent in:\n$plan")
  }

  test("skyline: dominance decomposes into bucket aggregates + bounded windows") {
    val plan = executedPlan(graft.operators.SkylineOps.skylineParts(spark, sf))
    // The bucket-maxima aggregate must exist (the hierarchical step); a
    // naive formulation would be a quadratic join or one global window
    // with no prior aggregate.
    assert(plan.contains("HashAggregate"), s"no bucket aggregate in:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"quadratic join leaked into the skyline plan:\n$plan")
  }

  test("decile_lift ranks via bucket aggregates — no corpus-wide window") {
    val plan = executedPlan(graft.operators.RfmOps.decileLift(spark, sf))
    // The hierarchical rank's carry window runs over value-bucket
    // aggregates: every Window in the plan must sit ABOVE at least one
    // HashAggregate (a flat NTILE would put Window straight on the
    // user rows with a single-partition sort below it).
    assert(plan.contains("HashAggregate") && plan.contains("Window"), plan)
    assert(plan.lastIndexOf("HashAggregate") > plan.indexOf("Window"),
      s"window not over bucket aggregates:\n$plan")
    // The rank window is bucket-partitioned (never an empty over()):
    // every windowspecdefinition names the __vb_rk bucket key first.
    assert(plan.contains("windowspecdefinition(__vb_rk"),
      s"rank window lost its bucket partitioning:\n$plan")
  }

  test("gap_quantiles collapses to the type×gap grid before the rank-select walk") {
    val plan = executedPlan(graft.operators.TemporalOps.gapQuantiles(spark, sf))
    // The per-user lag window is partitioned (user_id, event_type) —
    // never an empty over() — and the quantile probe windows run over
    // the histogram aggregate.
    assert(!plan.contains("Window [") ||
      !plan.contains("windowspecdefinition()"), plan)
    assert(plan.contains("HashAggregate"), s"no histogram collapse in:\n$plan")
  }

  test("acf_daily pairs the metadata day spine, never event rows") {
    val plan = executedPlan(
      graft.operators.TemporalOps.acfDaily(spark, sf))
    // The lag self-join and the totals arm must be fed by the cached
    // daily collapse (InMemoryTableScans), not raw event-row scans —
    // the ACF algebra runs over the metadata-sized spine. (The plan
    // string still PRINTS parquet scans inside the InMemoryRelation
    // build plans, so assert on the cache reads, not scan counts.)
    assert("InMemoryTableScan".r.findAllIn(plan).length >= 2,
      s"daily frame not cached for reuse:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window:\n$plan")
  }

  test("embedding audits aggregate map-side — one scan, no row-level window") {
    val p1 = executedPlan(graft.operators.StatsOps.embeddingNorms(spark, sf))
    assert(!p1.contains("Window"), s"unexpected window in norms plan:\n$p1")
    val p2 = executedPlan(graft.operators.StatsOps.embeddingDimStats(spark, sf))
    assert(!p2.contains("Window"), s"unexpected window in dim plan:\n$p2")
    assert(p2.contains("Generate"), s"posexplode missing:\n$p2")
  }

  // ---- r11: pins for the heavy/iterative queries ----

  test("basket_rules: basket-bounded pairs, bounded top-k, no cross join") {
    val plan = executedPlan(graft.operators.AssocOps.basketRules(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"all-pairs join in:\n$plan")
    // The pair space collapses in a distributed aggregate before any
    // support join, and the final k rows come from a bounded
    // TakeOrdered, never a global sort of the rule table.
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("TakeOrderedAndProject"),
      s"rule ranking is a global sort in:\n$plan")
  }

  test("item_neighbors: per-item window over aggregated pairs, no cross join") {
    val plan = executedPlan(graft.operators.AssocOps.itemNeighbors(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"all-pairs join in:\n$plan")
    // The top-k window is PARTITIONED by the item (bounded by its
    // co-purchase degree) — an empty windowspec would serialize the
    // whole neighbor table through one task.
    assert("windowspecdefinition\\(a#".r.findFirstIn(plan).isDefined,
      s"neighbor window not partitioned by item in:\n$plan")
    // Pair counts collapse below the window.
    assert(plan.lastIndexOf("HashAggregate") > plan.indexOf("Window"), plan)
  }

  test("clustering_coeff: broadcast closing join, bounded top-k") {
    val plan = executedPlan(graft.operators.LinkOps.clusteringCoeff(spark, sf))
    assert(!plan.contains("CartesianProduct"), s"all-pairs join in:\n$plan")
    // The triangle-closing membership probe must broadcast the canonical
    // edge list — a shuffled sort-merge join would re-exchange the wedge
    // frame (the big side) and dominate at scale.
    assert(plan.contains("BroadcastHashJoin"),
      s"closing join not broadcast in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"coefficient ranking is a global sort in:\n$plan")
  }

  test("ccnet_buckets prunes unused document columns everywhere") {
    val plan = executedPlan(TextOps.ccnetBuckets(spark, sf))
    // The tercile window rides (doc_id, lang, n_tokens, score) — neither
    // documents scan may read the columns the query never touches, and
    // no text payload may reach the window's exchange.
    assert(!plan.contains("n_chars#"), s"n_chars not pruned in:\n$plan")
    assert(!plan.contains("source#"), s"source not pruned in:\n$plan")
  }

  test("quality_ablation explodes rule triples, not documents") {
    val plan = executedPlan(TextOps.qualityAblation(spark, sf))
    assert(plan.contains("Generate explode"), s"no explode in:\n$plan")
    // Only the rule-key aggregation exchange and the output sort may
    // shuffle; the flags are computed in the scan projection.
    val exchanges = "Exchange (hash|range)partitioning".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(exchanges == Set("hash", "range"), s"exchanges $exchanges in:\n$plan")
  }

  private def countJobs(op: => Unit): Int = TestSession.countJobs(op)

  /** Count each (name, ceiling, run) entry's jobs from a cleared cache and
    * fail with every entry that ran more than its ceiling.
    */
  private def assertCeilings(family: Seq[(String, Int, () => Any)]): Unit = {
    val over = family.flatMap { case (name, ceiling, run) =>
      spark.catalog.clearCache()
      val n = countJobs(run())
      info(s"$name jobs: $n (ceiling $ceiling)")
      if (n > ceiling) Some(s"$name ran $n jobs > $ceiling") else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  test("mst_forest contracts with O(1) driver actions per round") {
    val n = countJobs(graft.operators.GraphOps.boruvkaMsf(spark, sf).collect())
    info(s"mst_forest jobs: $n")
    // Measured healthy shape: 46 jobs (deterministic at test SF). Per
    // round: empty-probe, pick checkpoint, ONE moved-poll per batch of 3
    // composed squarings, relabel checkpoint — each an AQE job or two.
    // The pre-fix shape (a poll + checkpoint per squaring) measured
    // 2-3x this (92+); the ceiling sits between with headroom for AQE
    // job-accounting drift across Spark versions and core counts.
    assert(n <= 80, s"mst_forest ran $n jobs")
  }

  test("min-label family spends no more jobs than its measured loop shape") {
    import graft.operators.{AssocOps, DedupClusterOps, GraphOps}
    // The edge store is built once per JVM; build it outside the counts,
    // and clear leftover caches per entry so each count starts cold.
    GraphOps.edges(spark, sf)
    // Ceilings are the max of three cold runs since the guarded loops and
    // the triangle count run in one task under the edge guard
    // (GraphKernel): a guard count, the single-partition exchange, the
    // kernel (plus, converged, its checkpoint and round read) and the
    // final collect; a warm store or table read runs no schema-inference
    // job (TablesSpec). The entity loops stay distributed (unguarded); one
    // extra checkpoint per round, or a final one, fails them here, and a
    // guarded loop falling back to per-round jobs fails the rest.
    val family: Seq[(String, Int, () => Any)] = Seq(
      ("connected_components", 4,
        () => GraphOps.connectedComponents(spark, sf).collect()),
      ("components_conv", 8,
        () => GraphOps.connectedComponentsConverged(spark, sf)._2.collect()),
      ("percolation_audit", 53,
        () => GraphOps.percolationAudit(spark, sf).collect()),
      ("clusters_conv", 38, () => DedupClusterOps.clustersConverged(
        spark, Tables.documents(spark, sf))._2.collect()),
      ("entity_clusters", 23,
        () => AssocOps.entityClusters(spark, sf).collect()),
      ("entity_clusters_conv", 33,
        () => AssocOps.entityClustersConverged(spark, sf)._2.collect()),
      ("triangle_count", 4,
        () => GraphOps.triangleCount(spark, sf).collect()))
    assertCeilings(family)
  }

  test("rank, LPA and k-core families spend no more jobs than their measured loop shape") {
    import graft.operators.GraphOps
    GraphOps.edges(spark, sf)
    // Ceilings are the max of three cold runs of the hand-written loops
    // these entries ran before they shared one round driver (NodeLoop);
    // kcore_conv's is the driver's, 20 → 16, since its stop test filters
    // the checkpointed frame instead of counting survivors. Per round: a
    // broadcast of the node frame, the aggregation and its checkpoint
    // (fixed: every round but the last); converged adds one scalar stop
    // test per round. A reintroduced per-round poll, a second checkpoint
    // per round or an unchecked 2^rounds plan re-expansion fails here.
    val family: Seq[(String, Int, () => Any)] = Seq(
      ("pagerank", 43, () => GraphOps.pagerank(spark, sf, 10).collect()),
      ("pagerank_weighted", 44,
        () => GraphOps.pagerankWeighted(spark, sf, 10).collect()),
      ("pagerank_topk", 41,
        () => GraphOps.pagerankTopK(spark, sf, 10, 20).collect()),
      ("pagerank_conv", 60,
        () => GraphOps.pagerankConverged(spark, sf)._2.collect()),
      ("ppr_seeded", 39, () => GraphOps.pprSeeded(spark, sf).collect()),
      ("community_lpa", 21,
        () => GraphOps.communityLpa(spark, sf, 4).collect()),
      ("community_stats", 35,
        () => GraphOps.communityStats(spark, sf, 4).collect()),
      ("kcore", 18, () => GraphOps.kcore(spark, sf, 60, 4).collect()),
      ("kcore_conv", 16,
        () => GraphOps.kcoreConverged(spark, sf)._2.collect()))
    assertCeilings(family)
  }

  test("frontier family spends no more jobs than its measured loop shape") {
    import graft.operators.GraphOps
    GraphOps.edges(spark, sf)
    // Ceilings are the max of three cold runs (all three identical). Per
    // round (NodeLoop.relax): a broadcast of the frontier, the min-combine
    // aggregation and its checkpoint (every round but the last), plus
    // setup (edge layout, node count) and the final collect. A restored
    // per-round scalar poll or a full-outer carry adds 6-12 jobs PER
    // ROUND. The landmark store is kept per JVM and table directory, so
    // its consumers run on a fresh copy of the tables with a warm edge
    // store: graph_distance_histogram first builds it (the landmark BFS),
    // then reads it; betweenness_landmark reads it for its hop levels.
    TestSession.withTableCopy(sf) { copy =>
      GraphOps.edges(spark, copy)
      assertCeilings(Seq(
        ("bfs_hops", 26, () => GraphOps.bfsHops(spark, sf).collect()),
        ("sssp_weighted", 29, () => GraphOps.ssspWeighted(spark, sf).collect()),
        ("harmonic_centrality", 22,
          () => GraphOps.harmonicCentrality(spark, sf).collect()),
        ("graph_distance_histogram, store cold", 25,
          () => GraphOps.graphDistanceHistogram(spark, copy).collect()),
        ("graph_distance_histogram, store warm", 5,
          () => GraphOps.graphDistanceHistogram(spark, copy).collect()),
        ("betweenness_landmark", 41,
          () => GraphOps.betweennessLandmark(spark, copy).collect())))
    }
  }

  test("capped dedup shuffles 8-byte shingle hashes, never shingle strings") {
    val plan = executedPlan(graft.operators.MinHashOps.dedupNgram(spark, sf))
    // The fused path hashes shingles ONCE and keys every downstream
    // exchange (df count, candidate self-join, dropped-correction,
    // pair aggregate) on the 8-byte hash or on doc ids. A
    // variable-length shingle string crossing an exchange is the
    // regression that made the r11 pre-fix path 8x slower and would
    // move corpus text volume through the network at 100 TB.
    assert(!plan.contains("hashpartitioning(s#"),
      s"raw shingle strings crossed an exchange:\n$plan")
    assert(plan.contains("InMemoryTableScan"),
      "tagged-index / candidate-pair caches missing from the plan")
  }

  test("capped dedup candidate join is built on the df-ceiling index") {
    // The registered entry materializes the intersection frame eagerly
    // (to release its index persists), which hides the build plan behind
    // an InMemoryTableScan — so pin the PRE-materialization shape
    // directly: the df tag must be computed and compared against the
    // ceiling BEFORE the candidate self-join, and every exchange must
    // key on the 8-byte hash or doc ids, never shingle strings. A future
    // "optimization" that drops the cap filter (reintroducing the n²
    // candidate path the sf1 rehearsal measured) fails here, not in a
    // rehearsal.
    val docs = Tables.documents(spark, sf)
    val sh = graft.operators.MinHashOps.shingleSets(docs)
    val (inter, temps) =
      graft.operators.MinHashOps.cappedIntersectionsPlan(sh, 64L)
    val plan = executedPlan(inter)
    try {
      assert(plan.contains("df#"), s"no df tag in the candidate path:\n$plan")
      assert(plan.contains("> 64"),
        s"df-ceiling comparison missing from the candidate path:\n$plan")
      assert(!plan.contains("hashpartitioning(s#"),
        s"raw shingle strings crossed an exchange:\n$plan")
      assert(plan.contains("hashpartitioning(h#"),
        s"hashed inverted index missing from the exchanges:\n$plan")
    } finally temps.foreach(_.unpersist(false))
  }

  test("hard negatives broadcast the query side; candidates never sort-merge") {
    val plan = executedPlan(
      graft.operators.AnnOps.hardNegatives(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"query side not broadcast in:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"candidate scan shuffled into a sort-merge join:\n$plan")
  }

  test("semantic decon is one join-free scan: no join operator, label-only shuffle") {
    val plan = executedPlan(
      graft.operators.AnnOps.decontaminationSemantic(spark, sf))
    // The eval cohort rides a broadcast literal, so the flag pass is a
    // projection: NO join of any kind may appear, and the only shuffled
    // key is the bounded label rollup (plus the output range sort).
    assert(!plan.contains("Join"), s"join found in:\n$plan")
    "Exchange hashpartitioning\\(([a-zA-Z_#0-9]+)".r
      .findAllMatchIn(plan).map(_.group(1)).foreach { key =>
        assert(key.startsWith("label"), s"unexpected shuffle key $key in:\n$plan")
      }
  }

  test("binary ANN: corpus scan never shuffles; raw vectors only join for the shortlist") {
    val plan = executedPlan(
      graft.operators.BinaryAnnOps.annBinaryTopK(spark, sf))
    // Stage 1 (Hamming over packed words) joins the 5-query code side by
    // broadcast; stage 2 re-attaches raw vectors via broadcast of the
    // bounded shortlist. The corpus must never be hash-exchanged on an
    // id for either join — the only allowed hash exchange is the bounded
    // top-k aggregator's q_id rollup.
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"no broadcast join in:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"corpus-side shuffle join in:\n$plan")
  }

  test("source ablation: only source survives as a shuffle key") {
    val plan = executedPlan(
      graft.operators.SampleOps.sourceAblation(spark, sf))
    "Exchange hashpartitioning\\(([a-zA-Z_#0-9]+)".r
      .findAllMatchIn(plan).map(_.group(1)).foreach { key =>
        assert(key.startsWith("source"), s"unexpected shuffle key $key in:\n$plan")
      }
    assert(!plan.contains("SortMergeJoin"), s"totals join not broadcast:\n$plan")
  }

  test("epoch schedule collapses map-side: no token or text crosses an exchange") {
    val plan = executedPlan(
      graft.operators.SampleOps.epochSchedule(spark, sf))
    // The only shuffled key may be `source` (plus the output range sort):
    // partial aggregation collapses per-source token counts before the
    // exchange, and the totals join is a 1-row broadcast.
    "Exchange hashpartitioning\\(([a-zA-Z_#0-9]+)".r
      .findAllMatchIn(plan).map(_.group(1)).foreach { key =>
        assert(key.startsWith("source"), s"unexpected shuffle key $key in:\n$plan")
      }
    assert(!plan.contains("Exchange hashpartitioning(text") &&
      !plan.contains("Exchange hashpartitioning(n_tok"), plan)
  }
}
