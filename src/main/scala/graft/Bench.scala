package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark harness: times every registered query end-to-end against
  * `SPARK_GRAFT_SF_DIR` and prints one JSON line.
  *
  * Methodology: each query is executed with a **sort-preserving action** —
  * a write to the `noop` datasource — so plans that end in a global orderBy
  * pay for it (a bare `.count()` lets Catalyst's EliminateSorts drop the
  * final sort and under-measures the real plan). Each query gets one
  * warm-up run, then the median of 3 timed runs; queries whose warm-up
  * exceeds [[Bench.slowCutoffSec]] get a single timed run instead to bound
  * total wall time. A query that throws is reported with `-1` time and its
  * error class in the `errors` map — never silently folded into the total.
  *
  * Noise floor: the raw per-rep timings (sorted) are written under
  * `"spread"` in `bench_full.json`, so cross-round regressions can be
  * judged against the measured per-query min/median/max rather than a
  * folk variance number.
  *
  * Per-query layer metrics go under `"metrics"` in `bench_full.json`,
  * never into the stdout lines: the classes Spark's codegen compiled
  * during the query's timed reps and the milliseconds spent compiling
  * them (JVM-wide counters, read before and after the reps; the
  * warm-up run compiles the query's classes, so a nonzero count means
  * the timed reps paid for recompiles).
  *
  * Output transport: the harness that invokes this keeps only the LAST
  * 2000 characters of stdout and parses the trailing JSON line, so the
  * final line is emitted with bounded-width values (2 significant digits)
  * and a hard length guard — full-precision per-query numbers go to
  * `bench_full.json` in the working directory, and logging is forced OFF
  * so nothing interleaves after the final line.
  */
object Bench {
  // Queries whose warm-up stays under this take the median of 3 timed
  // runs; slower ones get a single run to bound wall time. 15s covers
  // the iterative graph queries (~9-12s) — with a single run, one GC or
  // contention spike pollutes their recorded number (a clean 11.2s
  // pagerank measured 46.9s once in r5); a median does not.
  private val slowCutoffSec = 15.0

  // The invoking harness captures the last 2000 chars of stdout; the final
  // JSON line plus a trailing newline must fit inside that window.
  private val maxLineChars = 1900

  /** Codegen work during a query's timed reps: classes compiled and
    * milliseconds spent compiling them.
    */
  private final case class Codegen(compiles: Long, compileMs: Double) {
    def -(o: Codegen): Codegen = Codegen(compiles - o.compiles, compileMs - o.compileMs)
  }

  private def codegenNow(): Codegen = Codegen(
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e6)

  /** One benched query: median time, error (if any), the sorted raw
    * per-rep timings (the spread; single-element for slow/err queries),
    * and the codegen work of its timed reps (absent if the warm-up threw).
    */
  private final case class Timing(
      name: String, median: Double, err: Option[String], reps: Vector[Double],
      codegen: Option[Codegen] = None)

  /** 2-significant-digit fixed-point rendering (no exponents, valid JSON
    * numbers): 0.42 / 1.2 / 11 / 123. Bounded width keeps ~85 entries
    * inside the stdout tail window.
    */
  private def fmt2(v: Double): String =
    if (v < 0) "-1"
    else if (v < 1) f"$v%.2f"
    else if (v < 10) f"$v%.1f"
    else f"$v%.0f"

  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Process peak RSS in MB from /proc/self/status (VmHWM) — the JVM
    * analogue of the reference's `resource.getrusage(...).ru_maxrss`
    * readout (etl_spark.py:22): in local mode one process holds driver
    * AND executors, so this is the whole engine's high-water mark.
    * -1 on non-Linux / unreadable proc.
    */
  private def peakRssMb(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") =>
          l.split("\\s+")(1).toLong / 1024
      }.getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L }

  /** Peak USED heap across all heap pools, in MB — the cross-box
    * comparable memory number. VmHWM additionally counts GC headroom
    * (untouched-but-committed heap up to -Xmx), metaspace, Tungsten
    * off-heap, netty buffers, and glibc arena fragmentation — all
    * allocator/timing-dependent, which is why the SAME suite recorded
    * 10.1 GB on one box and 24.1 GB on another in r14. Divergence
    * between the two fields on one run is off-heap+headroom by
    * definition; peak_heap_mb is what the code's live data actually
    * reached.
    */
  private def peakHeapMb(): Long =
    try {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L))
        .sum / (1024 * 1024)
    } catch { case _: Throwable => -1L }

  /** CURRENT used heap across heap pools, in MB. Sampled right after the
    * inter-query double-GC, this is (approximately) live data only.
    */
  private def usedHeapMb(): Long =
    try {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(p => Option(p.getUsage).map(_.getUsed).getOrElse(0L))
        .sum / (1024 * 1024)
    } catch { case _: Throwable => -1L }

  /** Running max of the POST-GC used heap, updated at every inter-query
    * cleanup — the -Xmx-insensitive memory number. peak_heap_mb proved
    * NOT cross-box comparable in r15 (driver 18.1 GB vs builder 8.4 GB
    * on the same suite): with a larger heap the JVM simply collects
    * later, so peak USED inflates with headroom even though live data is
    * identical. The post-GC floor is sampled immediately after two full
    * GC cycles, when only live data remains, so it tracks what the
    * queries actually retain regardless of heap sizing or GC laziness.
    */
  private var heapFloorPeakMb: Long = 0L
  private def sampleHeapFloor(): Unit = {
    val u = usedHeapMb()
    if (u > heapFloorPeakMb) heapFloorPeakMb = u
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Default to the real core count: an unset env var must mean "use the
    // box", not a silent local[4] that quarters shuffle parallelism and
    // invalidates every number printed below.
    val cpus = sys.env.getOrElse(
      "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    var spark: SparkSession = GraftSession.build(cpus, "graft-bench")
    // Nothing may interleave with (or follow) the final JSON line on
    // stdout/stderr — kill logging outright for the bench run.
    spark.sparkContext.setLogLevel("OFF")

    val queries = SparkEntry.queries

    def runOnce(name: String): (Double, Option[String]) = {
      val t0 = System.nanoTime()
      try {
        queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        ((System.nanoTime() - t0) / 1e9, None)
      } catch {
        case e: Throwable =>
          ((System.nanoTime() - t0) / 1e9, Some(e.getClass.getSimpleName))
      }
    }

    // A 180+-query session accumulates driver state no per-query cleanup
    // fully reclaims (lingering AQE broadcasts, codegen classloaders,
    // listener refs): late-alphabet iterative queries measured 2 s min /
    // 18 s max reps while clean in isolation. Recycling the session
    // every `recycleEvery` queries bounds that state; the recycle cost
    // sits OUTSIDE any timed window and the next query's warm-up run
    // re-absorbs the cold-JVM cost before its timed reps.
    var recycleEvery = 40
    var sinceRecycle = 0
    def maybeRecycle(): Unit = {
      sinceRecycle += 1
      if (sinceRecycle >= recycleEvery) {
        sinceRecycle = 0
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        spark = GraftSession.build(cpus, "graft-bench")
        spark.sparkContext.setLogLevel("OFF")
      }
    }

    // The iterative-graph family: per-round materializing queries whose
    // timings proved 3-6x sensitive to accumulated session state when
    // interleaved mid-alphabet (r10 driver runs: bfs_hops 2.8s builder /
    // 14.4s driver on identical code). They run LAST, in their own
    // freshly-recycled session with a tighter recycle cadence, so every
    // family member starts from near-identical driver state.
    val iterativeFamily = Set(
      "bfs_hops", "sssp_weighted", "mst_forest", "hits", "pagerank",
      "pagerank_conv", "pagerank_topk", "pagerank_weighted", "ppr_seeded",
      "connected_components", "components_conv", "kcore", "kcore_conv",
      "clusters_conv", "dedup_clusters", "graph_assortativity",
      "link_prediction", "triangle_count", "knn_graph", "clustering_coeff",
      "markov_stationary", "graph_degrees", "scc_components",
      // r17: the remaining per-round-materializing loop queries, same
      // class and same aged-JVM sensitivity as the rest of the family
      // (betweenness_landmark measured 9.7 s isolated vs 15.5 s from the
      // regular section's aged session on identical code) — they belong
      // in the fresh-JVM slot the family exists for.
      "percolation_audit", "betweenness_landmark", "harmonic_centrality",
      "graph_distance_histogram", "entity_clusters", "entity_clusters_conv",
      "community_lpa", "community_stats")

    // The shingle-dedup family persists (and eagerly materializes) the
    // frames that carry essentially ALL of its work — shingle sets, the
    // capped inverted index, the intersection counts. Under the default
    // methodology the warm-up run leaves those caches warm and the timed
    // reps re-find them by analyzed-plan identity, so the recorded
    // median measures a few id-joins instead of the query (r11 driver
    // run: dedup_ngram 0.47 s recorded vs 3.1-5.6 s standalone). These
    // queries get COLD reps: every cache is dropped before each timed
    // run, so the median is the number a fresh session would pay.
    val coldFamily = Set(
      "dedup_ngram", "dedup_containment", "dedup_source_matrix",
      "dedup_threshold_curve", "dedup_minhash", "dedup_savings",
      "dedup_sorted_neighborhood", "dedup_threshold", "ngram_stop_shingles",
      "source_novelty", "dedup_simhash", "span_dedup",
      // Same self-flattering mechanism outside the shingle family: these
      // persist their own dominant frame (token collapse / inverted
      // index), so warm reps would re-find the warm-up's cache and time
      // only the tail.
      "dedup_incremental_neardup", "dsir_weights", "lm_surprise",
      "source_similarity", "split_leakage_audit",
      // r13: the LSH audit runs BOTH dedup machines, the survivor policy
      // rides the converged clustering, and the CCNet cut persists the
      // same token collapse as lm_surprise — all would be warm-rep
      // flattered under the default methodology.
      "lsh_miss_audit", "dedup_survivor_quality", "ccnet_buckets",
      "dedup_cluster_sizes")
    def dropAllCaches(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }

    // Optional comma-separated filter for quick single-query iteration.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val allNames = queries.keys.toVector.sorted
      .filter(n => only.forall(_.contains(n)))
    val (graphNames, regularNames) = allNames.partition(iterativeFamily)
    // The family runs FIRST, in the youngest possible JVM. r11 ran it
    // last and the driver measured triangle_count at 7.4-14.4 s; the r12
    // bisection reproduced that only with the 178 regular queries ahead
    // of it in the SAME JVM — the family alone, any order, measures
    // 1-6 s per member (triangle_count 3.5-4.3 s standalone, after its 4
    // in-family predecessors, and 21-deep in a family-only run alike).
    // Session recycling cannot shed JVM-level aging (code cache,
    // metaspace, heap fragmentation), so position is the only lever: the
    // memory-bound iterative queries get the fresh JVM, and the short
    // scan-agg regulars — insensitive to aging in two rounds of driver
    // data — absorb the late positions.
    val names = graphNames ++ regularNames
    val familyEnd = graphNames.size
    if (graphNames.nonEmpty) recycleEvery = 8 // tight cadence in-family
    val results: Vector[Timing] = names.zipWithIndex.map { case (n, idx) =>
      if (idx == familyEnd && graphNames.nonEmpty && regularNames.nonEmpty) {
        // Family→regular boundary: fresh session, relax the cadence.
        sinceRecycle = recycleEvery
        maybeRecycle()
        recycleEvery = 40
      }
      val out = runOnce(n) match {
        case (_, Some(err)) => Timing(n, -1.0, Some(err), Vector.empty)
        case (warmSec, None) =>
          // The streaming_* replay gates drain one or two REAL
          // file-source streams per execution; their cost is
          // measurement-layer (source listing, state-store bookkeeping,
          // sink drain), not plan shape — streaming_join_replay swung
          // 6-22 s across otherwise-identical r16 runs. They are
          // correctness gates, not microbenchmarks: one timed rep
          // (the warm-up still absorbs JIT + plan compile).
          val reps =
            if (warmSec > slowCutoffSec || n.startsWith("streaming_")) 1
            else 3
          val before = codegenNow()
          val timed = Vector.fill(reps) {
            if (coldFamily(n)) dropAllCaches()
            runOnce(n)
          }
          val codegen = Some(codegenNow() - before)
          timed.collectFirst { case (_, Some(err)) => err } match {
            case Some(err) => Timing(n, -1.0, Some(err), Vector.empty, codegen)
            case None =>
              val sorted = timed.map(_._1).sorted
              Timing(n, sorted(sorted.size / 2), None, sorted, codegen)
          }
      }
      // Clear between QUERIES, not between reps: iterative queries persist
      // intermediate frames, and the warm-up run is supposed to leave them
      // warm for the timed reps (clearing per-rep silently turned the
      // medians into cold-cache numbers in r4); clearing here still keeps
      // the session from accumulating every query's persisted frames.
      spark.sharedState.cacheManager.clearCache()
      // clearCache only drops SQL-cached plans. The iterative operators'
      // lineage truncation (localCheckpoint) leaves RDD blocks in the
      // BlockManager that no cacheManager entry references, and per-round
      // broadcasts linger until the ContextCleaner's GC-driven sweep. Over
      // a 114-query run those accumulate into storage-eviction churn that
      // degraded late-alphabet queries up to 40x (a 2.4 s kcore measured
      // 104 s mid-run; isolated reruns were clean). Release both here so
      // every query starts from the same empty-storage state.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      // Broadcast/block reclamation is GC-driven and ASYNC: the weak
      // refs must be collected, queued, and then drained by the
      // ContextCleaner thread. One gc() with an immediate next query
      // leaves the drain racing that query's timed reps — measured as
      // late-run rep blowups (a 1.5 s sssp_weighted hitting 30 s on rep
      // 3 deep in the alphabet, clean in isolation). Two cycles with a
      // short pause lets the queue actually drain before timing resumes.
      System.gc()
      Thread.sleep(200)
      System.gc()
      Thread.sleep(100)
      sampleHeapFloor()
      maybeRecycle()
      out
    }

    // "sf0.1" → 0.1 so the field costs 3 bytes, not a 25-byte path. The
    // pattern requires a well-formed number ("sf0." must NOT emit the
    // invalid JSON `0.`); the path fallback is escaped as a JSON string.
    val sf = "sf([0-9]+(?:\\.[0-9]+)?)$".r.findFirstMatchIn(sfDir)
      .map(_.group(1)).getOrElse("\"" + jsonEscape(sfDir) + "\"")

    // total and errors are computed FROM THE SUBSET a line reports, so a
    // shed fallback line stays self-consistent (headline value == sum of
    // the listed queries; r8's closed-over total silently included shed
    // entries).
    def line(rs: Vector[Timing]): String = {
      val qs = rs.map(t => "\"" + t.name + "\":" + fmt2(t.median))
        .mkString("{", ",", "}")
      val errs = rs.collect { case Timing(k, _, Some(e), _, _) =>
        "\"" + k + "\":\"" + e + "\"" }.mkString("{", ",", "}")
      val total = rs.collect { case Timing(_, v, None, _, _) => v }.sum
      val errField = if (errs == "{}") "" else s""","errors":$errs"""
      s"""{"metric":"total","value":${fmt2(total)},"unit":"sec","queries":$qs$errField,"peak_rss_mb":${peakRssMb()},"peak_heap_mb":${peakHeapMb()},"heap_floor_mb":$heapFloorPeakMb,"sf":$sf}"""
    }

    // Full precision for every entry, plus the raw per-rep spread — the
    // artifact for humans and for cross-round noise-aware comparisons.
    val fullQs = results.map(t => "\"" + t.name + "\":" + t.median)
      .mkString("{", ",", "}")
    val fullErrs = results.collect { case Timing(k, _, Some(e), _, _) =>
      "\"" + k + "\":\"" + e + "\"" }.mkString("{", ",", "}")
    val fullTotal = results.collect { case Timing(_, v, None, _, _) => v }.sum
    val spread = results.filter(_.reps.nonEmpty)
      .map(t => "\"" + t.name + "\":" + t.reps.mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":$fullTotal,"unit":"sec","queries":$fullQs,"errors":$fullErrs,"spread":$spread,"peak_rss_mb":${peakRssMb()},"peak_heap_mb":${peakHeapMb()},"heap_floor_mb":$heapFloorPeakMb,"sf":$sf,"cpus":$cpus,"sfDir":"${jsonEscape(sfDir)}"}"""
    val metrics = results.collect { case Timing(n, _, _, _, Some(c)) =>
      f""""$n":{"codegen_compiles":${c.compiles},"codegen_compile_ms":${c.compileMs}%.1f}"""
    }.mkString("{", ",", "}")
    // A filtered run (SPARK_GRAFT_ONLY) must never clobber the committed
    // full-inventory record — that exact mistake cost a round's bench
    // history once already. Partial runs write to bench_partial.json.
    val fullPath =
      if (only.isEmpty) "bench_full.json" else "bench_partial.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath),
      full.stripSuffix("}") + s""","metrics":$metrics}""" + "\n")

    // The guarded final line: if the full inventory overflows the tail
    // window, shed the converged-mode extras first (their full numbers
    // stay in bench_full.json); oracle-checked queries are never dropped.
    val compact = line(results)
    val out =
      if (compact.length <= maxLineChars) compact
      else line(results.filterNot(_.name.endsWith("_conv")))
    println(full)
    println(out)
    System.out.flush()
    spark.stop()
  }
}
