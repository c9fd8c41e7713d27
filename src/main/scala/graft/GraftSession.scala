package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard configuration. Every harness
  * entry point (Verify, Bench, tests) builds its session here so conf is set
  * once, up front — never mutated mid-query (the one exception is
  * [[Tables.events]], which defensively re-asserts `nanosAsLong` because the
  * driver's own session reaches us through `SparkEntry.entry`).
  *
  * Scale notes: `shuffle.partitions` tracks the local core count here; on a
  * real cluster it would be sized to ~2-3× total executor cores (or left to
  * AQE coalescing, which is enabled). AQE also handles skew-join splitting
  * at runtime, which matters for the power-law keys (`user_id`, graph hubs).
  * Streaming replay drains are the exception to core-count sizing: they
  * size their state partitions by the bytes they replay, one per measured
  * 1 MiB ([[graft.streaming.StreamingReplay.statePartitions]]): 1 up to
  * sf0.01, 2 for the events replays at sf0.1.
  *
  * Codegen reuse: a generated class is compiled at most once per JVM.
  * Spark caches compiled classes in one JVM-wide Guava cache keyed by
  * (thread context classloader, generated source). At Spark's defaults
  * it misses three ways (measured on Spark 4.1.2, local[4]):
  *  - Capacity. `spark.sql.codegen.cache.maxEntries` defaults to 100,
  *    and Guava splits it over 4 segments of 25, each evicting on its
  *    own. The 9 perfbench queries, interleaved in one JVM at sf0.01,
  *    generate 115 distinct classes, so the cache thrashed: every warm
  *    pass recompiled 31–67 of them (0.4–1.0 s of Janino in a 3.8–5.2 s
  *    pass), and the `scan_agg` workload alone recompiled 13–26 per pass
  *    (0.17–0.41 s). [[CodegenCacheEntries]] holds them.
  *  - Classloader. Each streaming drain runs in a cloned session, and
  *    with artifact isolation on, every session gets its own artifact
  *    classloader, so every drain of `streaming_replay_hourly` recompiled
  *    the same 11 classes (130–185 ms). Isolation only separates JARs and
  *    files added to a session at runtime, which graft never adds, so it
  *    is off.
  *  - Class name. A whole-stage class is named after its codegen stage
  *    id, and AQE numbers stages in the order they are planned, which
  *    varies when independent shuffle stages race: each run of
  *    `funnel_windowed` (three aggregates cross-joined) recompiled 2–8 of
  *    its classes (sf0.001). With `useIdInClassName` off the name no
  *    longer carries the id, and the same source compiles once.
  * With these confs a warm pass compiles 0 classes, which
  * `CodegenReuseSpec` pins; `scan_agg`'s summed per-query medians fell
  * from 2.85 to 2.36 s (11 alternating perfbench runs per side).
  */
object GraftSession {

  /** Codegen cache capacity: 4 segments × 128 entries, so any one of
    * Guava's segments alone holds the 115 distinct classes measured for
    * the two perfbench workloads together, however their keys hash. A
    * static conf: the first compile in the JVM fixes it.
    */
  private val CodegenCacheEntries = 512

  def build(cpus: String, appName: String = "graft"): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // static conf: keep managed-table data out of the repo checkout
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Let AQE convert shuffle joins to broadcast from RUNTIME sizes (not
      // planner guesses): derived sides like the co-purchase edge list
      // (~20 MB at sf0.1) broadcast here, while at 100x the same side
      // exceeds the cap and AQE keeps the shuffle join — a decision that
      // scales with the data instead of being hard-coded per query.
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      // The unrolled iterative plans (PageRank, CC) exceed the default 25
      // fields and spam "Truncated the string representation of a plan"
      // warnings through every bench/verify log; raise the cap instead.
      .config("spark.sql.debug.maxToStringFields", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
