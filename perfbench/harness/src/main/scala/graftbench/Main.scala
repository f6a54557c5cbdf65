package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{GraftSession, SparkEntry}
import graft.streaming.StreamQueries
import org.apache.spark.sql.{BenchHooks, DataFrame, SparkSession}

/** The benchmark's JVM side. One process, one caller, one query at a
  * time (closed loop) in `local[cores]`:
  *
  *  1. set-up, timed from JVM start: build the session, assemble the
  *     query registry, then one untimed warm-up pass over the
  *     workload's queries in the listed order;
  *  2. timed passes over the workload's queries, each in a seeded
  *     order, until `--seconds` have elapsed (at least one). Each query
  *     is built, planned (`executedPlan` forced) and fully written to
  *     the `noop` sink. After each call the CacheManager entry count is
  *     recorded and the cache cleared, so no call reads another's
  *     cached results. On the first timed pass, after each timed write
  *     and untimed, the plan retention check; after the timed passes,
  *     the first pass's DataFrames written as parquet in `graft.Verify`'s
  *     layout for the DuckDB oracle compare;
  *  3. with `--trace 1`: one more pass that runs every query twice, once
  *     traced and once not (alternating which goes first), then the
  *     single-layer probes.
  *
  * Writes `result.json` (metrics, failures, run facts) and, when traced,
  * `trace.json` (spans with self times) to `--out`.
  */
object Main {

  final case class Opts(workload: String, data: String, out: String, seed: Long,
      seconds: Double, trace: Boolean, cores: Int)

  /** One timed query execution. */
  final class Exec(val query: String, val pass: Int, val traced: Boolean) {
    var buildS, planS, execS, gcS = 0.0
    var error: Option[String] = None
    var cacheEntries = 0L
    var streams: Seq[StreamQueries.StreamRunMetrics] = Nil
    var planCounts: Map[String, Long] = Map.empty
    var phases: Seq[(String, Long, Long)] = Nil
    def ok: Boolean = error.isEmpty
    def totalS: Double = buildS + planS + execS
    def streamWallS: Double = streams.map(_.wallMs).sum / 1e3
    def spanPrefix(workload: String): String = s"$workload|$pass|$query|"
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val wl = Workloads(opts.workload)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val failures = mutable.ArrayBuffer.empty[String]
    val execs = mutable.ArrayBuffer.empty[Exec]
    def record(e: Exec): Exec = {
      e.error.foreach(m => failures += s"${e.query}: $m")
      execs += e
      e
    }

    // 1. Set-up: JVM start through session build and warm-up.
    val spark = GraftSession.local(opts.cores, "graftbench")
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.queries
    val startS = (System.currentTimeMillis() - jvmStart) / 1e3
    // The untimed JIT warm-up: one pass over the workload's queries in
    // the listed order, then a wait for the JIT compiler to finish what
    // that pass queued, so the timed passes run compiled code.
    val w0 = System.nanoTime()
    wl.queries.foreach(q => run(spark, wl, opts, q, -1, traced = false, None)
      .error.foreach(m => failures += s"$q (warm-up): $m"))
    awaitJitIdle()
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    val rng = new scala.util.Random(opts.seed)

    // 2. Timed passes; the first also checks every call's plan and
    // keeps its DataFrame, written out for the oracle after the passes.
    val verify = new VerifyOutput(s"${opts.out}/verify")
    val outputs = mutable.LinkedHashMap.empty[String, DataFrame]
    val capture = new WriteCapture
    spark.listenerManager.register(capture)
    val heap = new HeapWatch
    val deadline = System.nanoTime() + (opts.seconds * 1e9).toLong
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      val first = pass == 0
      for (q <- rng.shuffle(wl.queries)) {
        val e = record(run(spark, wl, opts, q, pass, traced = false,
          if (first) Some(df => {
            retention(spark, q, df, capture).foreach(failures += _)
            outputs(q) = df
          }) else None))
        if (first) e.error.foreach(verify.failed(q, _))
      }
      pass += 1
    }
    heap.stop()
    spark.listenerManager.unregister(capture)
    for ((q, df) <- outputs)
      try verify.write(q, df)
      catch { case ex: Throwable => verify.failed(q, describe(ex)) }
    outputs.clear()
    cleanUp(spark)
    verify.finish(wl.queries)

    val timed = execs.filter(_.ok).toSeq
    val querySamples = timed.map(_.totalS)
    val endToEnd = Map(
      "pass_s" -> median((0 until pass).map(p => timed.filter(_.pass == p).map(_.totalS).sum)),
      "setup_s" -> setupS)

    // 3. Traced: one more pass, each query once traced and once not.
    val perLayer: Seq[(String, Any)] = if (!opts.trace) Nil else {
      val tr = new Tracer
      spark.sparkContext.addSparkListener(tr)
      val paired = for {
        (q, i) <- rng.shuffle(wl.queries).zipWithIndex
        traced <- if (i % 2 == 0) Seq(true, false) else Seq(false, true)
      } yield record(run(spark, wl, opts, q, pass, traced, None))
      BenchHooks.drain(spark.sparkContext)
      val traced = paired.filter(e => e.traced && e.ok)
      val tracedS = traced.map(_.totalS).sum
      val untracedS = paired.filter(e => !e.traced && e.ok).map(_.totalS).sum
      writeJson(s"${opts.out}/trace.json", spans(tr, wl, traced))
      val layers = layerMetrics(tr, wl, opts, traced) ++
        Probes.operators(spark, opts.data) :+
        ("sources.scan_s" -> Probes.scan(spark, opts.data, wl.tables))
      System.gc()
      layers ++ Seq(
        "jvm.start_s" -> startS,
        "jvm.warmup_s" -> warmupS,
        "jvm.peak_heap_mb" -> heap.peakMb,
        "jvm.live_heap_mb" ->
          ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0,
        "query_s.p50" -> median(querySamples),
        "query_s.geomean" -> math.exp(querySamples.map(math.log).sum / querySamples.size),
        "query_s.samples" -> querySamples.size.toLong,
        "trace.pass_s" -> tracedS,
        "trace.overhead_frac" -> (tracedS / untracedS - 1.0))
    }

    writeJson(s"${opts.out}/result.json", Map(
      "workload" -> wl.name,
      "queries" -> wl.queries,
      "cores" -> opts.cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
      "seed" -> opts.seed,
      "passes" -> pass,
      "attempted" -> execs.size,
      "failed" -> failures.size,
      "failures" -> failures.toSeq,
      "query_s.samples" -> querySamples.size,
      "setup_s" -> setupS,
      "calls" -> execs.toSeq.map(e => Map("query" -> e.query, "pass" -> e.pass,
        "traced" -> e.traced, "build_s" -> e.buildS, "plan_s" -> e.planS,
        "exec_s" -> e.execS, "ok" -> e.ok)),
      "end_to_end" -> endToEnd,
      "per_layer" -> scala.collection.immutable.ListMap(perLayer: _*)))
    spark.stop()
    sys.exit(0)
  }

  /** Writes maps, sequences, strings, booleans and numbers as JSON. */
  def writeJson(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(org.json4s.DefaultFormats) + "\n")

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("data"), need("out"), need("seed").toLong,
      need("seconds").toDouble, need("trace") == "1", need("cores").toInt)
  }

  /** Waits until the JIT compiler has been idle for 0.5 s, at most 10 s. */
  private def awaitJitIdle(): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 10000000000L
    var last = jit.getTotalCompilationTime
    var idleSince = System.nanoTime()
    while (System.nanoTime() - idleSince < 500000000L && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val now = jit.getTotalCompilationTime
      if (now != last) { last = now; idleSince = System.nanoTime() }
    }
  }

  private def describe(ex: Throwable): String =
    s"${ex.getClass.getSimpleName}: ${String.valueOf(ex.getMessage).take(300)}"

  /** Clear the CacheManager and drop the temp views the last call's
    * streaming replays registered (their memory sinks), so no later call
    * reads this call's results. Returns the CacheManager entry count
    * found.
    */
  private def cleanUp(spark: SparkSession): Long = {
    val entries = BenchHooks.cacheEntries(spark)
    spark.catalog.clearCache()
    StreamQueries.metrics.keys.foreach(spark.catalog.dropTempView)
    entries
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Failures of the retention check: the timed `noop` write must keep
    * every Window, Aggregate, Join, Generate and Expand node of the
    * query's own optimized plan.
    */
  private def retention(spark: SparkSession, q: String, df: DataFrame,
      capture: WriteCapture): Option[String] = {
    BenchHooks.drain(spark.sparkContext)
    val own = PlanShape.retained(df.queryExecution.optimizedPlan)
    capture.take() match {
      case None => Some(s"$q: retention check saw no noop write plan")
      case Some(w) =>
        val lost = PlanShape.lost(own, PlanShape.retained(w))
        if (lost.isEmpty) None else Some(s"$q: timed plan lost ${lost.mkString(", ")}")
    }
  }

  /** Build, plan and write one query; record its phases, streaming
    * replays, cache entries and (traced) plan shape. `after` runs
    * untimed on the built DataFrame once the timed write succeeded.
    */
  private def run(spark: SparkSession, wl: Workload, opts: Opts, q: String, pass: Int,
      traced: Boolean, after: Option[DataFrame => Unit]): Exec = {
    val e = new Exec(q, pass, traced)
    val sc = spark.sparkContext
    val prefix = e.spanPrefix(wl.name)
    def phase(p: String): Unit = if (traced) {
      sc.setLocalProperty(Tracer.SpanKey, prefix + p)
      sc.setJobGroup(prefix + p, prefix + p)
    }
    def untag(): Unit = if (traced) {
      sc.setLocalProperty(Tracer.SpanKey, null)
      sc.clearJobGroup()
    }
    StreamQueries.metrics.clear()
    val gc0 = gcMs()
    try {
      phase("build")
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, opts.data)
      val t1 = System.nanoTime()
      val w1 = System.currentTimeMillis()
      phase("plan")
      val plan = df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val w2 = System.currentTimeMillis()
      phase("exec")
      df.write.format("noop").mode("overwrite").save()
      val t3 = System.nanoTime()
      val w3 = System.currentTimeMillis()
      untag()
      e.buildS = (t1 - t0) / 1e9
      e.planS = (t2 - t1) / 1e9
      e.execS = (t3 - t2) / 1e9
      e.gcS = (gcMs() - gc0) / 1e3
      e.phases = Seq(("build", w0, w1), ("plan", w1, w2), ("exec", w2, w3))
      if (traced) e.planCounts = PlanShape.physical(plan)
      after.foreach(_(df))
    } catch {
      case ex: Throwable => e.error = Some(describe(ex))
    } finally untag()
    e.streams = StreamQueries.metrics.values.toSeq
    e.cacheEntries = cleanUp(spark)
    e
  }

  private def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-layer metrics: totals over the traced calls of one pass.
    * `operators.*` count the write's jobs; a builder's eager jobs are
    * `registry.*`, and a streaming replay's jobs are `streaming.*`.
    */
  private def layerMetrics(tr: Tracer, wl: Workload, opts: Opts,
      traced: Seq[Exec]): Seq[(String, Any)] = {
    val all = traced.flatMap(e => tr.jobsUnder(e.spanPrefix(wl.name)))
    def jobs(phase: String) = all.filter(j => !j.streaming && j.span.endsWith("|" + phase))
    val execJobs = jobs("exec")
    val exec = Tracer.totals(execJobs)
    val execS = traced.map(_.execS).sum
    val input = Tracer.totals(all)
    val streams = traced.flatMap(_.streams)
    val streamRows = streams.map(_.inputRows).sum.toDouble
    val streamS = traced.map(_.streamWallS).sum
    def plan(k: String) = traced.map(_.planCounts.getOrElse(k, 0L)).sum
    Seq(
      "registry.build_s" -> traced.map(e => (e.buildS - e.streamWallS).max(0.0)).sum,
      "registry.build_jobs" -> jobs("build").size,
      "registry.cache_entries" -> traced.map(_.cacheEntries).sum,
      "plans.plan_s" -> traced.map(_.planS).sum,
      "plans.exchanges" -> plan("exchanges"),
      "plans.windows" -> plan("windows"),
      "plans.sort_merge_joins" -> plan("sort_merge_joins"),
      "plans.broadcast_joins" -> plan("broadcast_joins"),
      "operators.exec_s" -> execS,
      "operators.jobs" -> execJobs.size,
      "operators.stages" -> execJobs.map(_.stages.size).sum,
      "operators.tasks" -> exec.tasks,
      "operators.task_s" -> exec.runMs / 1e3,
      "operators.busy_frac" -> exec.runMs / 1e3 / (execS * opts.cores),
      "operators.sched_delay_s" -> exec.schedDelayMs / 1e3,
      "operators.shuffle_write_bytes" -> exec.shuffleWriteBytes,
      "operators.shuffle_read_bytes" -> exec.shuffleReadBytes,
      "operators.spill_bytes" -> exec.spillBytes,
      "operators.peak_exec_mem_bytes" -> exec.peakExecMem,
      "operators.gc_s" -> exec.gcMs / 1e3,
      "sources.input_rows" -> input.inputRows,
      "sources.input_bytes" -> input.inputBytes,
      "streaming.batches" -> streams.map(_.batches).sum,
      "streaming.input_rows" -> streamRows,
      "streaming.wall_s" -> streamS,
      "streaming.rows_per_s" -> (if (streamS > 0) streamRows / streamS else 0.0),
      "streaming.state_rows_max" -> streams.map(_.stateRowsMax).maxOption.getOrElse(0L),
      "streaming.state_bytes_max" -> streams.map(_.stateBytesMax).maxOption.getOrElse(0L),
      "jvm.gc_s" -> traced.map(_.gcS).sum)
  }

  /** The span tree of the traced calls — query → phase → job → stage —
    * each span with its duration and self time (duration minus the part
    * its children cover).
    */
  private def spans(tr: Tracer, wl: Workload, traced: Seq[Exec]): Any = {
    def clip(iv: (Long, Long), lo: Long, hi: Long) = (iv._1.max(lo), iv._2.min(hi))
    def self(lo: Long, hi: Long, children: Seq[(Long, Long)]) =
      (hi - lo - Tracer.covered(children.map(clip(_, lo, hi)))) / 1e3
    Map("workload" -> wl.name, "queries" -> traced.filter(_.ok).map { e =>
      val js = tr.jobsUnder(e.spanPrefix(wl.name))
      val phases = e.phases.map { case (name, s, end) =>
        val pj = js.filter(_.span.endsWith("|" + name))
        Map("phase" -> name, "dur_s" -> (end - s) / 1e3,
          "self_s" -> self(s, end, pj.map(j => (j.startMs, j.endMs))),
          "jobs" -> pj.map { j =>
            Map("job" -> j.id, "streaming" -> j.streaming,
              "dur_s" -> (j.endMs - j.startMs) / 1e3,
              "self_s" -> self(j.startMs, j.endMs,
                j.stages.toSeq.map(st => (st.submitMs, st.completeMs))),
              "stages" -> j.stages.map(st => Map(
                "stage" -> st.id, "dur_s" -> (st.completeMs - st.submitMs) / 1e3,
                "tasks" -> st.totals.tasks, "task_s" -> st.totals.runMs / 1e3)))
          })
      }
      val (qs, qe) = (e.phases.head._2, e.phases.last._3)
      Map("pass" -> e.pass, "query" -> e.query, "start_ms" -> qs, "dur_s" -> e.totalS,
        "self_s" -> self(qs, qe, e.phases.map(p => (p._2, p._3))),
        "phases" -> phases)
    })
  }
}

/** The largest heap in use right after any garbage collection while the
  * watch is on (MB), from the JVM's GC notifications.
  */
final class HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        HeapWatch.this.synchronized { peak = peak.max(used) }
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def stop(): Unit = emitters.foreach(_.removeNotificationListener(listener))

  /** Peak post-GC heap; if no collection ran, the heap in use now. */
  def peakMb: Double = {
    val p = synchronized(peak)
    (if (p > 0) p else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1048576.0
  }
}

/** Query outputs in `graft.Verify`'s layout — one parquet directory per
  * query, `oracle_sql.json` and `_errors.json` — which the DuckDB oracle
  * compare (`tools/oracle_check.py`) reads. Unlike `Verify`, the result
  * is not coalesced to one file, so the warm-up runs each plan at the
  * same parallelism as the timed write.
  */
final class VerifyOutput(dir: String) {
  private val errors = mutable.LinkedHashMap.empty[String, String]
  new java.io.File(dir).mkdirs()

  def write(q: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$q")

  def failed(q: String, msg: String): Unit = errors(q) = msg

  def finish(queries: Seq[String]): Unit = {
    Main.writeJson(s"$dir/oracle_sql.json",
      scala.collection.immutable.ListMap(queries.map(q => q -> SparkEntry.oracleSql(q)): _*))
    Main.writeJson(s"$dir/_errors.json", errors)
  }
}
