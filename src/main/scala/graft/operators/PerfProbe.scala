package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Stage-isolation timing probe (guide §1.4/§1.5): times named sub-frames
  * of expensive query families with the noop sink so the computation, not
  * the output write, is measured. Diagnostic main only — never registered,
  * never part of the bench; exists so plan-level claims in
  * OPTIMIZATION_r*.md trace to a committed, re-runnable measurement.
  *
  * Usage: `runMain graft.operators.PerfProbe <family> [reps]` with
  * `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS` as in [[graft.Bench]].
  */
object PerfProbe {

  private def time(s: SparkSession, name: String, reps: Int)(
      df: => DataFrame): Unit = {
    s.sparkContext.setJobDescription(s"probe: $name")
    val ts = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    println(f"PROBE $name%-38s median ${ts(ts.size / 2)}%7.3f  reps ${ts.map(t => f"$t%.3f").mkString(" ")}")
    s.sparkContext.setJobDescription(null)
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse(
      "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val s = graft.GraftSession.build(cpus, "graft-perfprobe")
    s.sparkContext.setLogLevel("ERROR")
    val family = args.headOption.getOrElse("ann")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    def t(name: String)(df: => DataFrame): Unit = time(s, name, reps)(df)

    family match {
      case "ann" =>
        t("embeddings.scan")(graft.Tables.embeddings(s, dir))
        t("ivf.codedScan") {
          import org.apache.spark.sql.functions._
          val (cents, _) = LloydOps.frozenCentroids(s, dir, LloydOps.K)
          graft.Tables.embeddings(s, dir).select(
            col("vec_id").as("c_id"),
            LloydOps.clusterCol(cents)(
              LloydOps.quantizeCol(col("embedding"))).as("cluster"))
        }
        t("pqEncode")(PqOps.pqEncode(s, dir))
        t("annTopK.exact")(AnnOps.annTopK(s, dir))
        t("ivfProbeFrames.asg") {
          val (asg, _) = LloydOps.ivfProbeFrames(s, dir, 5, LloydOps.IvfProbes)
          asg
        }
        t("annIvfPqTopK")(PqOps.annIvfPqTopK(s, dir))
        t("annRecallIvfPq")(PqOps.annRecallIvfPq(s, dir))
        t("annIvfPqRerankTopK")(PqOps.annIvfPqRerankTopK(s, dir))
        t("annRecallIvfPqRerank")(PqOps.annRecallIvfPqRerank(s, dir))
        t("annPqTopK")(PqOps.annPqTopK(s, dir))
        t("annLshPqTopK")(PqOps.annLshPqTopK(s, dir))
      case "bpe" =>
        t("charStream-ish: documents scan")(graft.Tables.documents(s, dir))
        t("bpeMerges rounds=2")(BpeOps.bpeMerges(s, dir, rounds = 2))
        t("bpeMerges rounds=8")(BpeOps.bpeMerges(s, dir, rounds = 8))
      case "tri" =>
        t("triangle_count")(GraphOps.triangleCount(s, dir))
        t("clustering_coeff")(LinkOps.clusteringCoeff(s, dir))
      case "edges" =>
        t("edges.build")(GraphOps.edgesDirect(s, dir))
        GraphOps.edges(s, dir) // builds the store; the probe below reads it warm
        t("edges.storedRead")(GraphOps.edges(s, dir))
        t("degrees.viaBuild")(GraphOps.degrees(s, dir))
      case "mid" =>
        import org.apache.spark.sql.functions._
        t("profile_columns")(ProfileOps.profileColumns(s, dir))
        t("profile.paraCountDistinct") {
          val ev = graft.Tables.parallelized(
            graft.Tables.events(s, dir).select(
              col("event_id"), col("ts_us"), col("user_id"),
              col("event_type"), col("value"), col("props")))
          ev.agg(count(lit(1)).as("total"),
            countDistinct(col("event_id")).as("nd1"),
            countDistinct(col("ts_us")).as("nd2"),
            countDistinct(col("user_id")).as("nd3"),
            countDistinct(col("event_type")).as("nd4"),
            countDistinct(col("value")).as("nd5"),
            countDistinct(col("props")).as("nd6"))
        }
        t("profile.serialCountDistinct") {
          val ev = graft.Tables.events(s, dir).select(
            col("event_id"), col("ts_us"), col("user_id"),
            col("event_type"), col("value"), col("props"))
          ev.agg(count(lit(1)).as("total"),
            countDistinct(col("event_id")).as("nd1"),
            countDistinct(col("ts_us")).as("nd2"),
            countDistinct(col("user_id")).as("nd3"),
            countDistinct(col("event_type")).as("nd4"),
            countDistinct(col("value")).as("nd5"),
            countDistinct(col("props")).as("nd6"))
        }
        t("quantiles_density")(WindowOps.quantilesDensityByFlag(s, dir))
        t("median_density")(WindowOps.medianDensityByFlag(s, dir))
        t("hist.asIs") {
          graft.Tables.lineitem(s, dir)
            .select(col("l_returnflag"),
              floor(col("l_extendedprice") / (col("l_quantity") + lit(1)) * 1000 + 0.5)
                .cast("long").as("density_milli"))
            .groupBy("l_returnflag", "density_milli")
            .agg(count(lit(1)).as("c"))
        }
        t("hist.parallelized") {
          graft.Tables.parallelized(graft.Tables.lineitem(s, dir))
            .select(col("l_returnflag"),
              floor(col("l_extendedprice") / (col("l_quantity") + lit(1)) * 1000 + 0.5)
                .cast("long").as("density_milli"))
            .groupBy("l_returnflag", "density_milli")
            .agg(count(lit(1)).as("c"))
        }
      case "plans_before_quantiles" =>
        // Faithful replay of the r16 median/quantile constructions (the
        // code replaced in r17 §10) so their BEFORE plans can be
        // regenerated for plans/r17 — verbatim old expressions.
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        val density = graft.Tables.lineitem(s, dir)
          .select(col("l_returnflag"),
            floor(col("l_extendedprice") / (col("l_quantity") + lit(1)) * 1000 + 0.5)
              .cast("long").as("density_milli"))
        val hist = density.groupBy("l_returnflag", "density_milli")
          .agg(count(lit(1)).as("c"))
        val wCum = Window.partitionBy("l_returnflag").orderBy("density_milli")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = hist
          .withColumn("cum", sum("c").over(wCum))
          .withColumn("cnt", sum("c").over(Window.partitionBy("l_returnflag")))
        val lo = cum.filter(expr("cum >= (cnt + 1) div 2"))
          .groupBy("l_returnflag").agg(min("density_milli").as("v_lo"))
        val hi = cum.filter(expr("cum >= cnt div 2 + 1"))
          .groupBy("l_returnflag").agg(min("density_milli").as("v_hi"))
        println("===== median_density_by_flag (r16 form) =====")
        lo.join(hi, "l_returnflag")
          .select(col("l_returnflag"),
            expr("(v_lo + v_hi) div 2").as("median_density_milli"))
          .orderBy("l_returnflag").explain("formatted")
        val probes = cum
          .withColumn("p", explode(array(WindowOps.QuantilesPermille.map(lit): _*)))
          .filter(col("cum") >= expr("greatest((p * cnt + 999) div 1000, 1)"))
          .groupBy("l_returnflag")
          .pivot("p", WindowOps.QuantilesPermille.map(_.toString))
          .agg(min("density_milli"))
        println("===== quantiles_density_by_flag (r16 form) =====")
        probes.select(
          col("l_returnflag") +:
            WindowOps.QuantilesPermille.map(p => col(p.toString).as(s"p${p}_milli")): _*)
          .orderBy("l_returnflag").explain("formatted")
      case other =>
        println(s"unknown family: $other")
    }
    s.stop()
  }
}
