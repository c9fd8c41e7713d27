package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Behavioral-sequence analytics over the event stream: ordered funnel
  * conversion and the event-type transition matrix — the product-
  * analytics surface (reference's aggregation class:
  * analysis/etl_spark.py:163-183) extended to order-sensitive measures.
  *
  * Scale notes: the funnel is a JOIN LADDER, not a per-user event-list
  * collect — each stage is filter → partial-aggregated `min` per user →
  * join onto the previous stage's (user, ts) frame, so per-group state is
  * one timestamp regardless of how many events a user has (a
  * collect_list formulation would hold a power-law user's whole history
  * in one buffer). Stage frames shrink monotonically and AQE broadcasts
  * them as they fall under the threshold. The transition matrix is one
  * `lead` window per user (deterministically ordered by (ts, event_id))
  * into a map-side-combined count aggregation — one exchange each. The
  * window does sort each user's events inside one task: for a
  * pathological key (a bot with billions of rows) partition the window
  * by (user, day) and stitch day boundaries, the standard bound — human
  * activity volumes never reach it.
  *
  * Timestamps compare in microseconds (`ts div 1000` == DuckDB
  * `epoch_us`), strict `>` so a stage must be a genuinely later event.
  */
object FunnelOps {

  /** view → click → purchase conversion: per stage, first-event ordering
    * enforced (a qualifying click must follow the user's first view, a
    * qualifying purchase the first qualifying click).
    */
  def funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts_us").as("t"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("t").as("t1"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("t") > col("t1"))
      .groupBy("user_id").agg(min("t").as("t2"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("t") > col("t2"))
      .groupBy("user_id").agg(min("t").as("t3"))
    val n = v.agg(count(lit(1)).as("n1"))
      .crossJoin(c.agg(count(lit(1)).as("n2")))
      .crossJoin(p.agg(count(lit(1)).as("n3")))
    n.select(
      lit(1L).as("stage"), lit("view").as("event_type"),
      col("n1").as("users"), lit(1000L).as("conversion_permille"))
      .union(n.select(
        lit(2L), lit("click"), col("n2"),
        expr("(1000 * n2) div greatest(n1, 1)")))
      .union(n.select(
        lit(3L), lit("purchase"), col("n3"),
        expr("(1000 * n3) div greatest(n2, 1)")))
      .orderBy("stage")
  }

  val FunnelOracleSql: String =
    """WITH e AS (
      | SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
      |v AS (SELECT user_id, min(t) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      | SELECT e.user_id, min(t) AS t2 FROM e JOIN v ON e.user_id = v.user_id
      | WHERE event_type = 'click' AND t > t1 GROUP BY 1),
      |p AS (
      | SELECT e.user_id, min(t) AS t3 FROM e JOIN c ON e.user_id = c.user_id
      | WHERE event_type = 'purchase' AND t > t2 GROUP BY 1),
      |n AS (
      | SELECT (SELECT count(*) FROM v) AS n1, (SELECT count(*) FROM c) AS n2,
      |  (SELECT count(*) FROM p) AS n3)
      |SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type, n1 AS users,
      | CAST(1000 AS BIGINT) AS conversion_permille FROM n
      |UNION ALL SELECT 2, 'click', n2, (1000 * n2) // greatest(n1, 1) FROM n
      |UNION ALL SELECT 3, 'purchase', n3, (1000 * n3) // greatest(n2, 1) FROM n
      |ORDER BY stage""".stripMargin

  /** Time-to-convert distribution: exact type-1 quartiles (integer
    * seconds) of first-view → qualifying-first-purchase latency over
    * converted users, via the same join ladder as [[funnel]] plus a
    * HISTOGRAM rank-select (groupBy collapses users to distinct latency
    * values before any window, so the single ordered pass is bounded by
    * the value domain — corpus seconds — not the user count; the
    * `median_density_by_flag` trade). The ORACLE ranks users directly
    * with row_number — an independent algorithm.
    */
  def conversionTimeQuantiles(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts_us").as("t"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("t").as("t1"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("t") > col("t1"))
      .groupBy("user_id").agg(min("t").as("t2"), min("t1").as("t1"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("t") > col("t2"))
      .groupBy("user_id").agg(min("t").as("t3"), min("t1").as("t1"))
    val lat = p.select(expr("(t3 - t1) div 1000000").as("d_s"))
    val hist = lat.groupBy("d_s").agg(count(lit(1)).as("c"))
      .withColumn("cum",
        sum("c").over(Window.orderBy("d_s")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val n = hist.agg(sum("c").cast("long").as("n"))
    def q(p: Int) = min(when(
      col("cum") >= expr(s"(($p * n) + 999) div 1000"), col("d_s"))).as(s"p${p}_s")
    hist.crossJoin(broadcast(n))
      .agg(
        max("n").as("converted_users"),
        q(250), q(500), q(750))
  }

  val ConversionQuantilesOracleSql: String =
    """WITH e AS (
      | SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
      |v AS (SELECT user_id, min(t) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      | SELECT e.user_id, min(t) AS t2, min(t1) AS t1 FROM e JOIN v ON e.user_id = v.user_id
      | WHERE event_type = 'click' AND t > t1 GROUP BY 1),
      |p AS (
      | SELECT e.user_id, min(t) AS t3, min(t1) AS t1 FROM e JOIN c ON e.user_id = c.user_id
      | WHERE event_type = 'purchase' AND t > t2 GROUP BY 1),
      |l AS (
      | SELECT (t3 - t1) // 1000000 AS d_s,
      |  row_number() OVER (ORDER BY (t3 - t1) // 1000000) AS rn,
      |  count(*) OVER () AS n
      | FROM p)
      |SELECT CAST(max(n) AS BIGINT) AS converted_users,
      | CAST(min(CASE WHEN rn >= (250 * n + 999) // 1000 THEN d_s END) AS BIGINT) AS p250_s,
      | CAST(min(CASE WHEN rn >= (500 * n + 999) // 1000 THEN d_s END) AS BIGINT) AS p500_s,
      | CAST(min(CASE WHEN rn >= (750 * n + 999) // 1000 THEN d_s END) AS BIGINT) AS p750_s
      |FROM l""".stripMargin

  private val DayUs = 86400000000L

  /** Cohort retention matrix: users grouped by their first-activity day
    * (the cohort), with per-offset counts of how many were active again
    * N days later and the retention share against the cohort's size.
    *
    * Scale shape: one distinct over (user, day) — bounded by user-days,
    * map-side deduped — then a partial-aggregated groupBy on (cohort,
    * offset); cohort sizes are a days-bounded frame joined back
    * (broadcast at any realistic day count). No per-user windows, no
    * driver-side data.
    */
  def retentionMatrix(s: SparkSession, dir: String): DataFrame = {
    val active = Tables.events(s, dir)
      .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"))
      .distinct()
    val cohorts = active.groupBy("user_id").agg(min("day").as("cohort_day"))
    val cells = active.join(cohorts, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("active_users"))
    val sizes = cells.filter(col("day_offset") === 0)
      .select(col("cohort_day"), col("active_users").as("cohort_size"))
    cells.join(broadcast(sizes), "cohort_day")
      .select(
        col("cohort_day"), col("day_offset"), col("active_users"),
        expr("(1000 * active_users) div cohort_size").as("retained_permille"))
      .orderBy("cohort_day", "day_offset")
  }

  val RetentionOracleSql: String =
    """WITH a AS (
      | SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |c AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY 1),
      |x AS (
      | SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
      |  count(*) AS active_users
      | FROM a JOIN c ON a.user_id = c.user_id GROUP BY 1, 2),
      |s AS (
      | SELECT cohort_day, active_users AS cohort_size FROM x WHERE day_offset = 0)
      |SELECT x.cohort_day, CAST(x.day_offset AS BIGINT) AS day_offset,
      | x.active_users,
      | (1000 * x.active_users) // s.cohort_size AS retained_permille
      |FROM x JOIN s ON x.cohort_day = s.cohort_day
      |ORDER BY x.cohort_day, x.day_offset""".stripMargin

  /** Consecutive-event transition matrix: counts and per-source shares of
    * type_i → type_j steps in each user's (ts, event_id)-ordered stream.
    */
  def eventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
    val pairs = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts_us").as("t"))
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("transitions"))
    pairs
      .withColumn("from_total",
        sum("transitions").over(Window.partitionBy("from_type")))
      .select(
        col("from_type"), col("to_type"), col("transitions"),
        expr("(1000 * transitions) div from_total").as("share_permille"))
      .orderBy("from_type", "to_type")
  }

  val TransitionsOracleSql: String =
    """WITH e AS (
      | SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events),
      |p AS (
      | SELECT event_type AS from_type,
      |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY t, event_id) AS to_type
      | FROM e),
      |g AS (
      | SELECT from_type, to_type, count(*) AS transitions FROM p
      | WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, transitions,
      | CAST((1000 * transitions) // sum(transitions) OVER (PARTITION BY from_type)
      |  AS BIGINT) AS share_permille
      |FROM g ORDER BY from_type, to_type""".stripMargin

  /** Window budget for [[funnelWindowed]] (micros): 24 hours — tight
    * enough to cut (sf0.01: 150 → 60 → 25 users vs the unbounded
    * funnel's counts), loose enough that every stage carries mass (a
    * 4-hour budget zeroed the purchase stage, gating nothing).
    */
  val FunnelWindowUs = 86400000000L

  /** Time-budgeted ordered funnel — the windowed twin of [[funnel]]:
    * each step must land within [[FunnelWindowUs]] of the PREVIOUS
    * step's completion (first view → first click inside the budget →
    * first purchase inside the budget), the product-analytics form
    * where "converted three weeks later" does not count. GREEDY
    * earliest-completion semantics, documented: the anchor is the
    * user's FIRST view; a click reachable only from a later view is
    * not credited (the oracle replays the same greedy choice). Same
    * scale shape as [[funnel]]: three per-user min-reductions chained
    * by broadcast-sized user frames, counts roll up to 3 rows.
    */
  def funnelWindowed(
      s: SparkSession, dir: String, windowUs: Long = FunnelWindowUs): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts_us").as("t"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("t").as("t1"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("t") > col("t1") && col("t") <= col("t1") + windowUs)
      .groupBy("user_id").agg(min("t").as("t2"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("t") > col("t2") && col("t") <= col("t2") + windowUs)
      .groupBy("user_id").agg(min("t").as("t3"))
    val n = v.agg(count(lit(1)).as("n1"))
      .crossJoin(c.agg(count(lit(1)).as("n2")))
      .crossJoin(p.agg(count(lit(1)).as("n3")))
    n.select(
      lit(1L).as("stage"), lit("view").as("event_type"),
      col("n1").as("users"), lit(1000L).as("conversion_permille"))
      .union(n.select(
        lit(2L), lit("click"), col("n2"),
        expr("(1000 * n2) div greatest(n1, 1)")))
      .union(n.select(
        lit(3L), lit("purchase"), col("n3"),
        expr("(1000 * n3) div greatest(n2, 1)")))
      .orderBy("stage")
  }

  def funnelWindowedOracleSql(windowUs: Long = FunnelWindowUs): String =
    s"""WITH e AS (
       | SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
       |v AS (SELECT user_id, min(t) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
       |c AS (
       | SELECT e.user_id, min(t) AS t2 FROM e JOIN v USING (user_id)
       | WHERE event_type = 'click' AND t > t1 AND t <= t1 + $windowUs
       | GROUP BY 1),
       |p AS (
       | SELECT e.user_id, min(t) AS t3 FROM e JOIN c USING (user_id)
       | WHERE event_type = 'purchase' AND t > t2 AND t <= t2 + $windowUs
       | GROUP BY 1),
       |n AS (
       | SELECT (SELECT count(*) FROM v) AS n1,
       |  (SELECT count(*) FROM c) AS n2,
       |  (SELECT count(*) FROM p) AS n3)
       |SELECT CAST(1 AS BIGINT) AS stage, 'view' AS event_type, CAST(n1 AS BIGINT) AS users,
       | 1000 AS conversion_permille FROM n
       |UNION ALL
       |SELECT 2, 'click', CAST(n2 AS BIGINT),
       | CAST((1000 * n2) // greatest(n1, 1) AS BIGINT) FROM n
       |UNION ALL
       |SELECT 3, 'purchase', CAST(n3 AS BIGINT),
       | CAST((1000 * n3) // greatest(n2, 1) AS BIGINT) FROM n
       |ORDER BY stage""".stripMargin

  /** Top-1 next-event predictability audit — the EVAL readout of the
    * [[eventTransitions]] chain: for each from-type, the single most
    * likely next type (max transition count, lexicographically-smallest
    * tie-break) and the in-sample hit rate a "predict the mode" baseline
    * achieves. The number a sequence-model team reads before training
    * anything: a 900 ‰ top-1 chain has no headroom for a model, a 300 ‰
    * chain does. In-sample by design (fit strength of the chain itself,
    * not generalization — the split machinery in rows 119/267 is the
    * holdout seam). Scale shape: the same one corpus collapse to the
    * ≤|types|² matrix as its siblings; everything after is
    * metadata-sized.
    */
  def markovTop1Accuracy(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
    val pairs = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts_us").as("t"))
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("transitions"))
    // Mode per from-type: a row-number window is fine HERE because it
    // runs over the collapsed ≤|types|² matrix, never event rows.
    val mode = pairs
      .withColumn("rn", row_number().over(Window.partitionBy("from_type")
        .orderBy(col("transitions").desc, col("to_type"))))
      .filter(col("rn") === 1)
      .select(col("from_type"), col("to_type").as("predicted"),
        col("transitions").as("top1_hits"))
    pairs.groupBy("from_type")
      .agg(sum("transitions").as("n_pairs"))
      .join(mode, Seq("from_type"))
      .select(col("from_type"), col("predicted"), col("n_pairs"),
        col("top1_hits"),
        expr("(1000 * top1_hits) div n_pairs").as("top1_permille"))
      .orderBy("from_type")
  }

  val MarkovTop1OracleSql: String =
    """WITH e AS (
      | SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events),
      |p AS (
      | SELECT event_type AS from_type,
      |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY t, event_id) AS to_type
      | FROM e),
      |g AS (
      | SELECT from_type, to_type, count(*) AS transitions FROM p
      | WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |m AS (
      | SELECT from_type, to_type AS predicted, transitions AS top1_hits,
      |  row_number() OVER (PARTITION BY from_type
      |   ORDER BY transitions DESC, to_type) AS rn
      | FROM g),
      |t AS (SELECT from_type, sum(transitions) AS n_pairs FROM g GROUP BY 1)
      |SELECT t.from_type, m.predicted, CAST(t.n_pairs AS BIGINT) AS n_pairs,
      | m.top1_hits,
      | CAST((1000 * m.top1_hits) // t.n_pairs AS BIGINT) AS top1_permille
      |FROM t JOIN m ON t.from_type = m.from_type AND m.rn = 1
      |ORDER BY t.from_type""".stripMargin

  /** Stationary distribution of the event-type Markov chain: power
    * iteration of the ppm transition matrix from the uniform start —
    * "where does a user's behavior settle long-run". The corpus
    * collapses ONCE to the ≤&#124;types&#124;² transition matrix (same
    * per-user lead as [[eventTransitions]]); every iteration after that
    * is a joins-and-aggregate over metadata-sized frames, so the loop
    * costs nothing at any corpus scale. Fixed-point ppm with per-term
    * `div` — mass lost to rounding is deterministic and identical in
    * the unrolled oracle (the vector need not sum to exactly 1e6).
    */
  def markovStationary(s: SparkSession, dir: String, iters: Int = 12): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("t"), col("event_id"))
    val counts = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts_us").as("t"))
      .withColumn("to_type", lead("event_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("a"), col("to_type").as("b"))
      .agg(count(lit(1)).as("c"))
    // The matrix is ≤|types|² metadata: collapse it to ONE partition so
    // the 12 iteration rounds run single-task with broadcast joins —
    // without this, every tiny round pays full-width shuffle stages and
    // the loop costs more than the corpus collapse (measured 4.7 s vs
    // ~1.5 s at sf0.1).
    val p = counts
      .withColumn("tot", sum("c").over(Window.partitionBy("a")))
      .select(col("a"), col("b"), expr("(1000000 * c) div tot").as("p_ppm"))
      .coalesce(1)
      .persist()
    val types = p.select(col("a").as("t")).distinct().coalesce(1).persist()
    val nT = types.count()
    var v = types.withColumn("mass_ppm", lit(1000000L / nT))
    for (_ <- 1 to iters) {
      v = types.join(
        broadcast(p.join(broadcast(v), p("a") === v("t"))
          .groupBy(col("b").as("t"))
          .agg(sum(expr("(mass_ppm * p_ppm) div 1000000")).as("m"))),
        Seq("t"), "left")
        .select(col("t"), coalesce(col("m"), lit(0L)).as("mass_ppm"))
    }
    v.select(col("t").as("event_type"), col("mass_ppm").as("stationary_ppm"))
      .orderBy("event_type")
  }

  def markovStationaryOracleSql(iters: Int = 12): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH e AS (
        | SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events),
        |pr AS (
        | SELECT event_type AS a,
        |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY t, event_id) AS b
        | FROM e),
        |g AS (SELECT a, b, count(*) AS c FROM pr WHERE b IS NOT NULL GROUP BY 1, 2),
        |p AS MATERIALIZED (
        | SELECT a, b,
        |  CAST((1000000 * c) // sum(c) OVER (PARTITION BY a) AS BIGINT) AS p_ppm
        | FROM g),
        |ty AS MATERIALIZED (SELECT DISTINCT a AS t FROM p),
        |nt AS (SELECT count(*) AS n FROM ty),
        |v0 AS (SELECT t, 1000000 // (SELECT n FROM nt) AS mass_ppm FROM ty)""".stripMargin)
    for (i <- 1 to iters) {
      sb.append(s""",
        |v$i AS MATERIALIZED (
        | SELECT ty.t, coalesce(m.m, 0) AS mass_ppm
        | FROM ty LEFT JOIN (
        |  SELECT p.b AS t,
        |   CAST(sum((v.mass_ppm * p.p_ppm) // 1000000) AS BIGINT) AS m
        |  FROM p JOIN v${i - 1} v ON p.a = v.t GROUP BY p.b) m
        |  ON ty.t = m.t)""".stripMargin)
    }
    sb.append(s"""
      |SELECT t AS event_type, CAST(mass_ppm AS BIGINT) AS stationary_ppm
      |FROM v$iters ORDER BY event_type""".stripMargin)
    sb.toString
  }
}
