package graft

import org.apache.spark.sql.types.{LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** Schema-drift canary. A Spark engine upgrade changed how parquet
  * TIMESTAMP(NANOS) surfaces (nanos-as-long under the legacy conf →
  * native timestamp_ntz in 4.1+), which silently broke every `events`
  * consumer at once. These cheap assertions fail with a pointed message
  * on the next such drift instead of 29 opaque downstream errors:
  *   1. `Tables.events` must expose an epoch-micros BIGINT `ts_us`
  *      whatever the engine does with the raw `ts` column, and its value
  *      must equal the independently-computed epoch micros of the row.
  *   2. Every registered query must at least pass analysis (`.schema`
  *      forces resolution without executing) at sf0.001.
  * It also pins the cached read schemas: a warm table or artifact-store
  * read runs no Spark job, yet serves exactly the schema an inferring
  * read would, and a rewritten table is read with its new columns and
  * rebuilds the artifacts built from it.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = TestSession.sf

  test("events.ts_us is an epoch-micros BIGINT under the current engine") {
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts_us").dataType == LongType,
      s"ts_us must be BIGINT, got ${ev.schema("ts_us").dataType}; " +
        "the engine's parquet TIMESTAMP(NANOS) read path changed — fix Tables.events")
  }

  test("events.ts_us matches an independent micros computation on a sample row") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf).orderBy("event_id").limit(5)
    // Independent path: format the raw ts to a string and re-parse. Works for
    // both engine read modes (long nanos / timestamp_ntz) without sharing the
    // arithmetic under test.
    val rows = ev.select(col("ts").cast("string").as("ts_str"), col("ts_us")).collect()
    rows.foreach { r =>
      val tsUs = r.getLong(1)
      val str = r.getString(0)
      val expected =
        if (str.forall(c => c.isDigit || c == '-')) str.toLong / 1000L // nanos-as-long mode
        else {
          val ldt = java.time.LocalDateTime.parse(str.replace(' ', 'T'))
          val inst = ldt.toInstant(java.time.ZoneOffset.UTC)
          inst.getEpochSecond * 1000000L + inst.getNano / 1000L
        }
      assert(tsUs == expected, s"ts_us=$tsUs != independent micros $expected (raw=$str)")
    }
  }

  test("every registered query analyzes at sf0.001 (resolution only, no execution)") {
    val failures = Registry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { val s: StructType = fn(spark, sf).schema; None }
      catch { case e: Exception => Some(s"$name: ${e.getMessage.linesIterator.next()}") }
    }
    assert(failures.isEmpty, s"queries failing analysis:\n${failures.mkString("\n")}")
  }

  private val tableNames = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  test("cached table schemas equal a fresh inferring read, nullability included") {
    tableNames.foreach { name =>
      val cached = Tables.table(spark, sf, name).schema
      val inferred = spark.read.parquet(s"$sf/$name.parquet").schema
      // StructType equality compares names, types, nullability and metadata.
      assert(cached == inferred, s"$name: cached $cached != inferred $inferred")
    }
  }

  test("a warm table read starts no Spark job") {
    Tables.lineitem(spark, sf)
    assert(TestSession.countJobs(Tables.lineitem(spark, sf)) == 0)
  }

  test("a warm edge-store read starts no Spark job") {
    graft.operators.GraphOps.edges(spark, sf)
    assert(TestSession.countJobs(graft.operators.GraphOps.edges(spark, sf)) == 0)
  }

  test("the ingest replay reads its written table back without a Spark job") {
    Tables.documents(spark, sf)
    // Jobs outside the streaming query: the drain's own micro-batch jobs
    // carry the query id, a schema-inferring read-back would not.
    val batchJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).forall(_.getProperty("sql.streaming.queryId") == null))
          batchJobs.incrementAndGet()
    }
    // countJobs settles the listener bus before the listener is removed.
    spark.sparkContext.addSparkListener(listener)
    val total =
      try TestSession.countJobs(graft.streaming.StreamingReplay.ingestReplay(spark, sf))
      finally spark.sparkContext.removeSparkListener(listener)
    info(s"ingest replay jobs: $total, outside the stream: ${batchJobs.get}")
    assert(batchJobs.get == 0)
  }

  test("a table rewritten with different columns is read with its new schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables-spec")
    val path = s"$dir/t.parquet"
    try {
      spark.range(3).selectExpr("id AS a").write.parquet(path)
      assert(Tables.table(spark, dir.toString, "t").columns.toSeq == Seq("a"))
      spark.range(3).selectExpr("id AS b", "CAST(id * 2 AS STRING) AS c")
        .write.mode("overwrite").parquet(path)
      val df = Tables.table(spark, dir.toString, "t")
      assert(df.schema == spark.read.parquet(path).schema)
      assert(df.orderBy("b").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((0L, "0"), (1L, "2"), (2L, "4")))
    } finally {
      val p = new org.apache.hadoop.fs.Path(dir.toString)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  test("the landmark store rebuilds when lineitem is rewritten") {
    import graft.operators.GraphOps
    // Half the orders: a smaller co-purchase graph, fewer landmark pairs.
    def halve(dir: String): Unit =
      Tables.lineitem(spark, sf).filter("l_orderkey % 2 = 0")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    // Both consumers of the landmark store.
    def landmarks(dir: String) = (
      GraphOps.graphDistanceHistogram(spark, dir).collect().toSeq,
      GraphOps.betweennessLandmark(spark, dir).collect().toSeq)
    TestSession.withTableCopy(sf) { rewritten =>
      val before = landmarks(rewritten)
      halve(rewritten)
      val after = landmarks(rewritten)
      TestSession.withTableCopy(sf) { fresh =>
        halve(fresh)
        val want = landmarks(fresh)
        assert(want._1 != before._1 && want._2 != before._2)
        assert(after == want, "the landmark store served the pre-rewrite frame")
      }
    }
  }

  test("replay state partitions follow the replayed bytes, clamped to [1, cores]") {
    import graft.streaming.StreamingReplay.{StateBytesPerPartition, statePartitions}
    val sfBytes = tableNames.map(Tables.sizeBytes(sf, _)).sum
    assert(sfBytes > 0)
    assert(statePartitions(spark, sfBytes) == 1)
    assert(spark.sparkContext.defaultParallelism >= 2)
    assert(statePartitions(spark, StateBytesPerPartition + 1) == 2)
    assert(statePartitions(spark, 1000L * StateBytesPerPartition) ==
      spark.sparkContext.defaultParallelism)
  }

  test("drain restores spark.sql.shuffle.partitions when the drained query throws") {
    import org.apache.spark.sql.functions.{assert_true, col}
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    assert(before != "1", "the drain's own setting must differ from the session's")
    val failing = spark.readStream
      .schema(Tables.table(spark, sf, "region").schema)
      .option("pathGlobFilter", "region.parquet")
      .parquet(sf)
      .filter(assert_true(col("r_regionkey") < 0).isNull)
    intercept[Exception] {
      graft.streaming.StreamingReplay.drain(spark, failing,
        "graft_tables_spec_failing", "append", sf, "region")
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }
}
