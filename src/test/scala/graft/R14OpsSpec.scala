package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.operators.{GraphOps, PiiOps, SampleOps}

/** r14 wave: LPA community detection, the k-anonymity release gate, and
  * the content-addressed shard manifest.
  */
class R14OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = TestSession.sf

  test("community_lpa: communities refine connected components") {
    val lpa = GraphOps.communityLpa(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cc = GraphOps.connectedComponents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lpa.keySet == cc.keySet, "same node universe")
    // An LPA label reaches a node only along edges, so two nodes sharing
    // an LPA community must share a component; the converse need not hold.
    lpa.groupBy(_._2).values.foreach { members =>
      val comps = members.keys.map(cc).toSet
      assert(comps.size == 1, s"community spans components $comps")
    }
    val nCommunities = lpa.values.toSet.size
    val nComponents = cc.values.toSet.size
    assert(nCommunities >= nComponents)
  }

  test("community_lpa: a bridge edge joins components but not communities") {
    import spark.implicits._
    // Two 4-cliques joined by one bridge (3-10): CC says one component;
    // plurality LPA keeps each clique on its own min label.
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val und = (clique(Seq(0L, 1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++
      Seq((3L, 10L))).toDF("src", "dst")
    val sym = und.union(und.select(col("dst").as("src"), col("src").as("dst")))
    val labels = GraphOps.lpaLabels(spark, sym, iters = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Set(0L, 1L, 2L, 3L).map(labels) == Set(0L),
      s"left clique converges to 0: $labels")
    assert(Set(10L, 11L, 12L, 13L).map(labels) == Set(10L),
      s"right clique converges to 10: $labels")
  }

  test("k_anonymity_audit: monotone in k, bounded ppm, constant class count") {
    val rows = PiiOps.kAnonymityAudit(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == PiiOps.AnonymityKs.map(_.toLong))
    assert(rows.map(_.getLong(1)).toSet.size == 1, "n_classes is k-independent")
    val below = rows.map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    below.sliding(2).foreach { case Array((c1, r1, p1), (c2, r2, p2)) =>
      assert(c1 <= c2 && r1 <= r2 && p1 <= p2, "raising k never shrinks exposure")
    }
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "classes_below <= n_classes")
      assert(r.getLong(4) >= 0 && r.getLong(4) <= 1000000L)
    }
  }

  test("community_stats: conservation laws and modularity bounds hold") {
    val stats = GraphOps.communityStats(spark, sf).collect()
    val labels = GraphOps.communityLpa(spark, sf).collect()
    assert(stats.map(_.getLong(0)).toSet == labels.map(_.getLong(1)).toSet)
    assert(stats.map(_.getLong(1)).sum == labels.length, "sizes partition nodes")
    // Each undirected edge contributes 2 to the total degree mass.
    val m = GraphOps.edges(spark, sf).count()
    assert(stats.map(_.getLong(2)).sum == 2 * m, "degree mass = 2m")
    assert(stats.map(_.getLong(3)).sum <= m, "internal edges bounded by m")
    stats.foreach { r =>
      val (size, eIn) = (r.getLong(1), r.getLong(3))
      assert(eIn <= size * (size - 1) / 2, s"community ${r.getLong(0)}")
    }
    val q = stats.map(_.getLong(4)).sum
    assert(q >= -1000000L && q <= 1000000L, s"Q_ppm=$q out of range")
  }

  test("frame_dedup: accounting identities hold against the frame table") {
    val r = graft.operators.MultimodalOps.frameDedup(spark, sf).collect().head
    val (total, distinct, groups, occ, dedupable) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val frames = graft.operators.MultimodalOps.multimodalFrames(spark, sf).collect()
    assert(total == frames.length, "rollup covers every sampled frame")
    assert(distinct == frames.map(_.getString(2)).distinct.length)
    assert(dedupable == occ - groups, "each dup group keeps one survivor")
    assert(total == distinct + dedupable, "total splits into keepers + dups")
    assert(groups <= occ && occ <= total)
  }

  test("chunk_documents: windows tile every doc with the declared overlap") {
    val rows = graft.operators.TextOps.chunkDocuments(spark, sf).collect()
    val nTokens = Tables.documents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1).split("\\s+").count(_.nonEmpty).toLong)
      .toMap
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.keySet == nTokens.keySet, "every doc chunked")
    byDoc.foreach { case (doc, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (0L until sorted.length),
        s"doc=$doc contiguous chunk_idx")
      sorted.zipWithIndex.foreach { case (r, k) =>
        assert(r.getLong(2) == 1 + 48L * k, s"doc=$doc stride")
        assert(r.getLong(3) ==
          math.min(64L, math.max(nTokens(doc) - r.getLong(2) + 1, 0)),
          s"doc=$doc chunk_tokens")
      }
      // The last chunk reaches the end of the doc; every chunk holds
      // more than the shared overlap except a short doc's only chunk.
      val last = sorted.last
      assert(last.getLong(2) + last.getLong(3) - 1 == math.max(nTokens(doc), 1))
      if (sorted.length > 1) sorted.foreach(r => assert(r.getLong(3) > 16))
    }
  }

  test("quantile_sketch_audit: error stays inside one bucket width") {
    val rows = graft.operators.StatsOps.quantileSketchAudit(spark, sf).collect()
    assert(rows.nonEmpty)
    val qs = graft.operators.StatsOps.SketchQuantiles.map(_.toLong).toSet
    rows.groupBy(_.getString(0)).foreach { case (t, rs) =>
      assert(rs.map(_.getLong(1)).toSet == qs, s"type=$t all probes present")
    }
    rows.foreach { r =>
      val (est, exact, err) = (r.getLong(3), r.getLong(4), r.getLong(5))
      assert(err == exact - est, "err is the realized gap")
      assert(err >= 0 && err < 250, s"err=$err outside [0, width)")
    }
    // Monotone: within a type, higher probes never give smaller exacts.
    rows.groupBy(_.getString(0)).values.foreach { rs =>
      val byQ = rs.sortBy(_.getLong(1)).map(_.getLong(4)).toSeq
      assert(byQ == byQ.sorted, "exact quantiles monotone in q")
    }
  }

  test("manifest_drift: consistent with the standalone manifests") {
    val drift = SampleOps.manifestDrift(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    val raw = SampleOps.shardManifest(Tables.documents(spark, sf)).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(drift.keySet == raw.keySet)
    drift.foreach { case (shard, d) =>
      // Raw columns equal the standalone raw manifest's.
      assert(d.getLong(1) == raw(shard).getLong(1), s"shard=$shard docs_raw")
      assert(d.getLong(5) == raw(shard).getLong(5), s"shard=$shard digest_raw")
      // Removal accounting and the digest flag's one-direction guarantee:
      // zero removals force digest equality (curated ⊆ raw).
      assert(d.getLong(3) == d.getLong(1) - d.getLong(2))
      assert(d.getLong(3) >= 0 && d.getLong(4) >= 0)
      if (d.getLong(3) == 0)
        assert(d.getLong(7) == 0L, s"shard=$shard unchanged but flagged")
    }
  }

  test("hybrid_rrf_topk: rank discipline and RRF arithmetic hold") {
    val rows = graft.operators.HybridOps.hybridRrfTopK(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 5L).toSet)
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getLong(2)).sorted.toSeq == (1L to rs.length), s"q=$q")
      // rrf_micro is exactly the contribution formula over the two legs.
      rs.foreach { r =>
        val (lex, sem) = (r.getLong(4), r.getLong(5))
        val expected =
          (if (lex > 0) 1000000L / (60 + lex) else 0L) +
          (if (sem > 0) 1000000L / (60 + sem) else 0L)
        assert(r.getLong(3) == expected, s"q=$q c=${r.getLong(1)}")
      }
      // Scores are nonincreasing down the fused ranking.
      val ordered = rs.sortBy(_.getLong(2)).map(_.getLong(3)).toSeq
      assert(ordered == ordered.sorted.reverse, s"q=$q scores=$ordered")
      // A doc topping BOTH legs must top the fused list (max possible RRF).
      rs.find(r => r.getLong(4) == 1L && r.getLong(5) == 1L)
        .foreach(r => assert(r.getLong(2) == 1L, s"q=$q double-winner not rank 1"))
    }
  }

  test("shard_manifest: partitions the corpus; digest is order-independent") {
    val docs = graft.Tables.documents(spark, sf)
    val m = SampleOps.shardManifest(docs).collect()
    assert(m.map(_.getLong(0)).toSeq == (0L until 16L))
    assert(m.map(_.getLong(1)).sum == docs.count(), "every doc in exactly one shard")
    m.foreach(r => assert(r.getLong(3) <= r.getLong(4), "id range ordered"))
    // Same corpus under a different partitioning → identical manifest:
    // the digest is a commutative fold, so layout cannot leak into it.
    val shuffled = SampleOps.shardManifest(docs.repartition(7)).collect()
    assert(m.map(_.toSeq).toSeq == shuffled.map(_.toSeq).toSeq)
    // And it agrees with shard_plan's balance view on the shared columns.
    val plan = SampleOps.shardPlanQuery(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    m.foreach { r =>
      assert(plan(r.getLong(0)) == ((r.getLong(1), r.getLong(2))))
    }
  }
}
