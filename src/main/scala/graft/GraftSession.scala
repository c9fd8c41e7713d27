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
  */
object GraftSession {
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
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
