package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{GraftSession, Registry, Tables}
import graft.operators.{DedupClusterOps, GraphOps, MinHashOps}

/** One benchmark run in one fresh JVM: set-up, a closed loop of timed
  * passes over one workload's queries, then a check pass that dumps every
  * query's output for the oracle compare (done by `run.py`).
  *
  * Arguments are `--key value` pairs, written by `run.py`:
  *   seed, seconds, trace (0|1), cpus, run_dir,
  *   queries (comma list), tables (comma list), data_dir.
  *
  * Untraced (`trace 0`): set up — JVM start, a [[GraftSession]] and
  * `WarmUpPasses` untimed passes, whose first calls build the engine's
  * per-JVM artifacts and whose repetition lets JIT and codegen settle —
  * then time passes until `seconds` have elapsed. Each execution is timed
  * from the call into the registered query to the end of its `noop`
  * write; caches are dropped before it and two GC cycles follow it,
  * outside the timed window.
  *
  * Traced (`trace 1`): time the session build, probe the artifact stores
  * (first call builds, second reads) and one streaming replay, warm up as
  * the untraced run does, alternate untraced and traced passes, then probe
  * the base-table scans and the injected SQL functions. Traced passes put every call and action
  * under its own job group (a span) and attribute the listener's
  * job/stage/task metrics to it.
  *
  * Everything the run measured goes to `run_dir/result.json`.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = kv(k).split(',').filter(_.nonEmpty).toVector
    val run = new Run(
      seed = kv("seed").toLong,
      seconds = kv("seconds").toDouble,
      cpus = kv("cpus").toInt,
      runDir = Paths.get(kv("run_dir")),
      queries = list("queries"),
      tables = list("tables"),
      dir = kv("data_dir"))
    val result =
      if (kv("trace") == "1") run.traced() else run.untraced()
    Files.writeString(run.runDir.resolve("result.json"), Json(result))
    run.stop()
  }
}

/** One execution of one query. `call` is the eager part (building the
  * DataFrame: loop rounds, checkpoints, artifact reads), `action` its
  * `noop` write.
  */
final case class Exec(query: String, call: Double, action: Double, error: Option[String]) {
  def total: Double = call + action
}

final class Run(
    val seed: Long,
    val seconds: Double,
    val cpus: Int,
    val runDir: Path,
    val queries: Vector[String],
    val tables: Vector[String],
    val dir: String) {

  private val rng = new scala.util.Random(seed)
  private val fns = Registry.queries
  private val storeDir = runDir.resolve("store")
  private var spark: SparkSession = _
  private var heapFloorMb = 0.0
  private var heapSamples = 0
  private var attempted = 0
  private var threw = 0
  private val checkThrew = mutable.ArrayBuffer[String]()
  private val errors = mutable.LinkedHashMap[String, String]()

  def stop(): Unit = if (spark != null) spark.stop()

  private def newSession(): SparkSession = {
    spark = GraftSession.build(cpus.toString, "graft-perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("graft.labelstore.dir", storeDir.toString)
    spark.conf.set("graft.stream.checkpoint.base",
      Files.createDirectories(runDir.resolve("ck")).toString)
    spark
  }

  // ---- isolation between executions ------------------------------------

  private def dropAllCaches(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def usedHeapMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(p => Option(p.getUsage).map(_.getUsed).getOrElse(0L))
      .sum / 1048576.0

  /** Outside every timed window: release the execution's caches, run two
    * GC cycles (with a pause for the ContextCleaner to drain), and sample
    * the post-GC heap. A sample more than 4 MB above the floor so far is
    * taken again after one more pause and cycle, so garbage the cleaner had
    * not yet released does not count as live.
    */
  private def cleanUp(): Unit = {
    dropAllCaches()
    System.gc()
    Thread.sleep(40)
    System.gc()
    Thread.sleep(10)
    var used = usedHeapMb()
    if (used > heapFloorMb + 4) {
      Thread.sleep(100)
      System.gc()
      used = math.min(used, usedHeapMb())
    }
    heapFloorMb = math.max(heapFloorMb, used)
    heapSamples += 1
  }

  private def failed(query: String, e: Throwable): Unit = {
    threw += 1
    errors.getOrElseUpdate(query, s"${e.getClass.getName}: ${e.getMessage}".take(300))
  }

  /** Run one query: drop caches, time call and `noop` action, clean up. */
  private def execute(name: String): Exec = {
    dropAllCaches()
    attempted += 1
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      val df = fns(name)(spark, dir)
      t1 = System.nanoTime()
      noop(df)
      val t2 = System.nanoTime()
      Exec(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, None)
    } catch {
      case e: Throwable =>
        failed(name, e)
        Exec(name, (System.nanoTime() - t0) / 1e9, 0.0, Some(e.getClass.getName))
    } finally cleanUp()
  }

  private def order(): Vector[String] = rng.shuffle(queries)

  /** Untimed passes before the first timed one. Pass times still fall by
    * a quarter over the first three passes of a fresh JVM.
    */
  private val WarmUpPasses = 3
  private def warmUp(): Unit = (1 to WarmUpPasses).foreach(_ => pass())

  private def pass(exec: String => Exec = execute): (Double, Vector[Exec]) = {
    val execs = order().map(exec)
    (execs.map(_.total).sum, execs)
  }

  /** Dump every query's output (one parquet file each) for the oracle
    * compare; outside the timed window. A query that throws here is
    * listed in `check_threw`, so the compare does not count it again.
    */
  private def checkPass(): Unit = {
    val out = runDir.resolve("out")
    for (q <- queries) {
      dropAllCaches()
      attempted += 1
      try fns(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
      catch {
        case e: Throwable =>
          failed(q, e)
          checkThrew += q
      }
    }
    dropAllCaches()
  }

  private def common(): Map[String, Any] = Map(
    "attempted" -> attempted, "threw" -> threw, "errors" -> errors.toMap,
    "check_threw" -> checkThrew.toVector,
    "heap_floor_mb" -> heapFloorMb, "heap_samples" -> heapSamples,
    "jvm_gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0,
    "jvm_jit_s" -> Option(ManagementFactory.getCompilationMXBean)
      .map(_.getTotalCompilationTime / 1000.0).getOrElse(0.0),
    "jvm_peak_rss_mb" -> peakRssMb(),
    "artifact_dirs" -> artifactDirs().size,
    "artifact_bytes" -> artifactDirs().map(dirBytes).sum)

  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  private def artifactDirs(): Vector[Path] =
    if (!Files.isDirectory(storeDir)) Vector.empty
    else Files.list(storeDir).iterator().asScala.filter(Files.isDirectory(_)).toVector

  private def dirBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Timed executions per query: (name -> [total seconds]). */
  private def byQuery(execs: Iterable[Exec]): Map[String, Vector[Double]] =
    execs.filter(_.error.isEmpty).groupBy(_.query).map { case (q, es) => q -> es.map(_.total).toVector }

  /** Run passes until `seconds` have elapsed, at least `minPasses`. */
  private def timedPasses(minPasses: Int)(one: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    while (n < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      one(n)
      n += 1
    }
  }

  // ---- untraced run: the end-to-end metrics -----------------------------

  def untraced(): Map[String, Any] = {
    newSession()
    warmUp()
    val setup = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val passes = mutable.ArrayBuffer[Double]()
    val execs = mutable.ArrayBuffer[Exec]()
    val t0 = System.nanoTime()
    timedPasses(minPasses = 2) { _ =>
      val (secs, es) = pass()
      passes += secs
      execs ++= es
    }
    val t1 = System.nanoTime()
    checkPass()
    common() ++ Map(
      "timed_wall_s" -> (t1 - t0) / 1e9,
      "check_wall_s" -> (System.nanoTime() - t1) / 1e9,
      "setup_s" -> setup,
      "pass_s" -> passes.toVector,
      "by_query" -> byQuery(execs))
  }

  // ---- traced run: the per-layer metrics --------------------------------

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextSpan = 0

  /** Run `body` under a fresh span whose job group names it. */
  private def span[T](name: String, layer: String, parent: Int, exec: Int)(body: => T): (T, Span) = {
    nextSpan += 1
    val id = nextSpan
    val sc = spark.sparkContext
    sc.setJobGroup(Span.group(id), name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val out = body
      val sp = Span(id, parent, name, layer, exec, t0, System.nanoTime())
      spans += sp
      (out, sp)
    } finally sc.clearJobGroup()
  }

  private def tracedExecute(name: String): Exec = {
    dropAllCaches()
    attempted += 1
    nextSpan += 1
    val qid = nextSpan
    val t0 = System.nanoTime()
    val exec = try {
      val (df, c) = span("call", "operators.call", qid, qid)(fns(name)(spark, dir))
      val (_, a) = span("action", "operators.action", qid, qid)(noop(df))
      Exec(name, c.secs, a.secs, None)
    } catch {
      case e: Throwable =>
        failed(name, e)
        Exec(name, (System.nanoTime() - t0) / 1e9, 0.0, Some(e.getClass.getName))
    }
    spans += Span(qid, 0, name, "query", qid, t0, System.nanoTime())
    cleanUp()
    exec
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private val tableReaders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  /** Injected SQL functions: (name, table, expression, baseline). The
    * baseline reads the same inputs without the function, so the
    * difference is the function's own cost.
    */
  private val functionProbes: Vector[(String, String, String, String)] = {
    val tokens = "split(text, ' ')"
    val qv = "transform(embedding, x -> cast(floor(x * 1000) as bigint))"
    def literal(rows: Int, cols: Int)(v: (Int, Int) => Int): String =
      (0 until rows).map(r => (0 until cols).map(c => s"${v(r, c)}L").mkString("array(", ",", ")"))
        .mkString("array(", ",", ")")
    val codebook = literal(16, 64)((j, i) => (i * 7 + j * 13) % 200 - 100)
    val dtab = literal(8, 16)((m, j) => m * 16 + j)
    val codes = "transform(sequence(0, 7), m -> cast((vec_id + m + r) % 16 as int))"
    Vector(
      ("minhash_sig", "documents", s"max(minhash_sig($tokens, 64)[0])", s"max(size($tokens))"),
      ("simhash_pack", "documents",
        s"max(simhash_pack(transform($tokens, t -> xxhash64(t)), 30, 0))",
        s"max(size(transform($tokens, t -> xxhash64(t))))"),
      ("poly_hash", "documents", "max(poly_hash(text, 31, 1000000007))", "max(length(text))"),
      ("cdc_cuts", "documents",
        "max(size(cdc_cuts(encode(text, 'UTF-8'), 8, 257, 1048573, 64)))",
        "max(length(encode(text, 'UTF-8')))"),
      ("vec_simhash", "embeddings", "max(vec_simhash(embedding, 32))", "max(embedding[0])"),
      ("vec_dot", "embeddings", "max(vec_dot(embedding, embedding))", "max(embedding[0])"),
      ("pq_codes", "embeddings", s"max(pq_codes($qv, $codebook, 8)[0])", s"max(size($qv))"),
      ("pq_adist", "embeddings", s"max(pq_adist($dtab, $codes))", s"max(size($codes))"))
  }
  private val probeCopies = 20

  /** Seconds to evaluate `agg` over `probeCopies` copies of each row. */
  private def functionProbe(table: String, agg: String): Double = {
    tableReaders(table)(spark, dir).createOrReplaceTempView(s"pb_$table")
    val df = spark.sql(
      s"SELECT $agg AS v FROM pb_$table LATERAL VIEW explode(sequence(1, $probeCopies)) c AS r")
    val t0 = System.nanoTime()
    noop(df)
    (System.nanoTime() - t0) / 1e9
  }

  def traced(): Map[String, Any] = {
    val t0 = System.nanoTime()
    newSession()
    val sessionBuild = (System.nanoTime() - t0) / 1e9
    val listener = new LayerListener
    val streaming = new StreamListener
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streaming)

    // Artifact stores, first call in the JVM (the build), then a warm read.
    def store(name: String, get: => DataFrame): Map[String, Double] = {
      val (_, b) = span(s"$name.build", "artifact", 0, 0)(noop(get))
      val (_, r) = span(s"$name.read", "artifact", 0, 0)(noop(get))
      Map(s"artifact.$name.build_s" -> b.secs, s"artifact.$name.read_s" -> r.secs)
    }
    val artifacts = store("edges", GraphOps.edges(spark, dir)) ++
      store("pairs", MinHashOps.frozenPairs(spark, dir)) ++
      store("labels", DedupClusterOps.convergedLabels(spark, dir))
    cleanUp()

    // The streaming layer: one drain of the stateful documents replay.
    span("streaming_dedup_replay", "streaming", 0, 0)(noop(fns("streaming_dedup_replay")(spark, dir)))
    streaming.settle()
    spark.streams.removeListener(streaming)
    listener.sync(spark)
    spark.sparkContext.removeSparkListener(listener)
    cleanUp()

    // Warm-up, then untraced and traced passes alternately.
    warmUp()
    val plain = mutable.ArrayBuffer[Double]()
    val plainExecs = mutable.ArrayBuffer[Exec]()
    val traced = mutable.ArrayBuffer[PassTrace]()
    timedPasses(minPasses = 4) { n =>
      if (n % 2 == 0) {
        val (secs, es) = pass()
        plain += secs
        plainExecs ++= es
      } else {
        spark.sparkContext.addSparkListener(listener)
        val before = spans.size
        val wall0 = System.currentTimeMillis()
        val (secs, execs) = pass(tracedExecute)
        val wall1 = System.currentTimeMillis()
        listener.sync(spark)
        spark.sparkContext.removeSparkListener(listener)
        traced += PassTrace(secs, execs, spans.slice(before, spans.size).toVector, wall0, wall1)
      }
    }
    val passMetrics = traced.map(t => listener.passMetrics(t, cpus))

    // Warm probes of the layers below the queries. Base-table scans:
    // three noop scans per table, median kept.
    spark.sparkContext.addSparkListener(listener)
    val scans = tables.map { t =>
      val runs = (1 to 3).map(_ => span(s"scan.$t", "tables", 0, 0)(noop(tableReaders(t)(spark, dir)))._2)
      val med = runs.sortBy(_.secs).apply(1)
      (t, med.secs, med.id)
    }

    // Function probes, seeded order, fn and baseline interleaved; the
    // fastest of two samples of each.
    val fnNs = rng.shuffle(functionProbes).map { case (fn, table, expr, base) =>
      val rows = tableReaders(table)(spark, dir).count() * probeCopies
      val samples = (1 to 2).map { _ =>
        (span(s"fn.$fn", "functions", 0, 0)(functionProbe(table, expr))._1,
          span(s"fn.$fn.base", "functions", 0, 0)(functionProbe(table, base))._1)
      }
      fn -> (samples.map(_._1).min - samples.map(_._2).min) * 1e9 / rows
    }.toMap
    spark.catalog.dropTempView("pb_documents")
    spark.catalog.dropTempView("pb_embeddings")
    listener.sync(spark)
    spark.sparkContext.removeSparkListener(listener)

    checkPass()
    val scanSpans = scans.map(_._3).toSet
    common() ++ Map(
      "session_build_s" -> sessionBuild,
      "artifacts" -> artifacts,
      "tables_scan_s" -> scans.map(_._2).sum,
      "tables_scan_tasks" -> listener.tasksOf(scanSpans),
      "functions_ns_per_row" -> fnNs,
      "plain_pass_s" -> plain.toVector,
      "by_query" -> byQuery(plainExecs ++ traced.flatMap(_.execs)),
      "query_s" -> (plainExecs ++ traced.flatMap(_.execs)).filter(_.error.isEmpty).map(_.total).toVector,
      "traced_pass_s" -> traced.map(_.secs).toVector,
      "pass_metrics" -> passMetrics.head.keys.map(k => k -> passMetrics.map(_(k)).sum / passMetrics.size).toMap,
      "streaming" -> streaming.totals,
      "task_ms_p50" -> Stats.intervalMedian(traced.flatMap(t => listener.taskMs(t.spans.map(_.id)))),
      "spans" -> spans.map(_.toMap))
  }
}

final case class Span(id: Int, parent: Int, name: String, layer: String, exec: Int, startNs: Long, endNs: Long) {
  def secs: Double = (endNs - startNs) / 1e9
  def toMap: Map[String, Any] = Map(
    "id" -> id, "parent" -> parent, "name" -> name, "layer" -> layer, "exec" -> exec,
    "start_ns" -> startNs, "end_ns" -> endNs)
}
object Span {
  val Prefix = "perfbench-span-"
  def group(id: Int): String = Prefix + id
}

final case class PassTrace(secs: Double, execs: Vector[Exec], spans: Vector[Span], wall0: Long, wall1: Long)

/** Job/stage/task metrics attributed to spans through the job group. */
final class LayerListener extends SparkListener {
  import scala.collection.concurrent.TrieMap

  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, overheadMs, gcMs = 0L
    var shuffleWrite, shuffleRead, spill, inRows, inBytes, outBytes = 0L
    val taskMs = mutable.ArrayBuffer[Long]()
  }
  private val bySpan = TrieMap[Int, Acc]()
  private val stageSpan = TrieMap[Int, Int]()
  private val unattributed = mutable.ArrayBuffer[Long]() // job start times (ms)
  private val markerJobs = TrieMap[Int, Unit]()
  @volatile private var markersSeen = 0
  private var markersSent = 0

  private def acc(id: Int): Acc = bySpan.getOrElseUpdate(id, new Acc)

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    if (g == LayerListener.Marker) markerJobs.put(e.jobId, ())
    else if (g.startsWith(Span.Prefix)) {
      val id = g.stripPrefix(Span.Prefix).toInt
      acc(id).synchronized(acc(id).jobs += 1)
      e.stageInfos.foreach(si => stageSpan.put(si.stageId, id))
    } else synchronized { unattributed += e.time }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobs.remove(e.jobId).isDefined) markersSeen += 1

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageSpan.get(e.stageInfo.stageId).foreach { id =>
      val a = acc(id)
      a.synchronized(a.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = acc(id)
      val info = e.taskInfo
      val fetch = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.overheadMs += info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - fetch
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inRows += m.inputMetrics.recordsRead
        a.inBytes += m.inputMetrics.bytesRead
        a.outBytes += m.outputMetrics.bytesWritten
        a.taskMs += info.duration
      }
    }

  /** Run a marker job and wait until this listener has seen it end: every
    * event posted before it has then been processed.
    */
  def sync(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    markersSent += 1
    sc.setJobGroup(LayerListener.Marker, "marker", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (markersSeen < markersSent && System.nanoTime() < deadline) Thread.sleep(2)
  }

  private def accs(ids: Iterable[Int]): Seq[Acc] = ids.toSeq.flatMap(bySpan.get)

  def tasksOf(ids: Iterable[Int]): Long = accs(ids).map(_.tasks).sum

  def taskMs(ids: Iterable[Int]): Seq[Long] = accs(ids).flatMap(a => a.synchronized(a.taskMs.toList))

  /** Per-pass sums over the pass's spans. */
  def passMetrics(t: PassTrace, cpus: Int): Map[String, Double] = {
    val calls = t.spans.filter(_.layer == "operators.call")
    val all = accs(t.spans.map(_.id))
    def sum(f: Acc => Long, in: Seq[Acc] = all): Double = in.map(f).sum.toDouble
    val runS = sum(_.runMs) / 1000
    val unattr = synchronized(unattributed.count(ts => ts >= t.wall0 && ts <= t.wall1))
    Map(
      "operators.call_s" -> calls.map(_.secs).sum,
      "operators.action_s" -> t.spans.filter(_.layer == "operators.action").map(_.secs).sum,
      "operators.call_jobs" -> sum(_.jobs, accs(calls.map(_.id))),
      "spark.jobs" -> sum(_.jobs), "spark.stages" -> sum(_.stages), "spark.tasks" -> sum(_.tasks),
      "spark.executor_run_s" -> runS,
      "spark.executor_cpu_s" -> sum(_.cpuNs) / 1e9,
      "spark.task_overhead_s" -> sum(_.overheadMs) / 1000,
      "spark.busy_frac" -> runS / (t.secs * cpus),
      "spark.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "spark.shuffle_read_bytes" -> sum(_.shuffleRead),
      "spark.spill_bytes" -> sum(_.spill),
      "spark.output_bytes" -> sum(_.outBytes),
      "spark.input_rows" -> sum(_.inRows),
      "spark.input_bytes" -> sum(_.inBytes),
      "spark.gc_s" -> sum(_.gcMs) / 1000,
      "trace.unattributed_jobs" -> unattr.toDouble)
  }
}

object LayerListener {
  val Marker = "perfbench-marker"
}

/** Micro-batch progress of the streaming queries it saw. */
final class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  private var batches, inputRows, triggerMs, walMs = 0L
  private val stateRows = mutable.Map[java.util.UUID, Long]()
  private var started, terminated = 0

  override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized { started += 1 }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = synchronized { terminated += 1 }
  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    batches += 1
    inputRows += p.numInputRows
    triggerMs += ms("triggerExecution")
    walMs += ms("walCommit")
    stateRows(p.runId) = p.stateOperators.map(_.numRowsTotal).sum
  }

  /** Wait (bounded) until every started query's termination arrived. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (synchronized(terminated < started) && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def totals: Map[String, Double] = synchronized(Map(
    "streaming.batches" -> batches.toDouble,
    "streaming.input_rows" -> inputRows.toDouble,
    "streaming.trigger_s" -> triggerMs / 1000.0,
    "streaming.wal_commit_s" -> walMs / 1000.0,
    "streaming.state_rows" -> stateRows.values.sum.toDouble))
}

object Stats {
  /** Median of whole-number data read as 1-wide intervals (`m - 1/2 +
    * (n/2 - below) / at`), so millisecond task times keep their spread.
    */
  def intervalMedian(xs: Iterable[Long]): Double =
    if (xs.isEmpty) 0.0
    else {
      val m = xs.toVector.sorted.apply(xs.size / 2)
      val below = xs.count(_ < m)
      m - 0.5 + (xs.size / 2.0 - below) / xs.count(_ == m)
    }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

/** `OracleSql QUERIES OUT`: write the registered DuckDB oracle SQL of the
  * comma-separated queries to OUT as a JSON object (used by `oracle.py`).
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val Array(names, out) = args
    val sql = Registry.oracleSql
    val picked = names.split(',').toVector.map(n =>
      n -> sql.getOrElse(n, sys.error(s"query $n has no oracle SQL")))
    Files.writeString(Paths.get(out), Json(picked.toMap))
  }
}
