package graft.bench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, runDir: String, spans: String)

/** Everything a workload needs: the shared session, its options, the
  * tracer (a no-op in the untraced run) and the engine counters. */
final class Ctx(val spark: SparkSession, val opts: Opts,
    val tracer: Tracer, val engine: EngineCounters, val cores: Int) {
  def dir(name: String): String = s"${opts.runDir}/$name"
}

/** Output checks. Each failed check is one failed operation; the run
  * then reports `correct = false` and exits nonzero. */
final class Checks {
  private var attemptedN = 0L
  private var failedN = 0L
  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failedN)
  /** Runs `ok` on the calling thread; only the tally is shared. */
  def apply(what: String)(ok: => Boolean): Unit = {
    val good = try ok catch {
      case e: Throwable =>
        System.err.println(s"check '$what' threw: $e"); false
    }
    if (!good) System.err.println(s"CHECK FAILED: $what")
    synchronized {
      attemptedN += 1
      if (!good) failedN += 1
    }
  }
}

/** One measured loop: operations run, failed, their latencies (a failed
  * operation has latency `Long.MaxValue`, beyond any limit), the loop's
  * wall time and the work units it completed. */
final case class Phase(ops: Long, failed: Long, latNs: Array[Long],
    wallNs: Long, work: Double, rowsOut: Long = 0L) {
  def perUnitNs: Double = if (work > 0) wallNs / work else Double.NaN
}

/** Runs independent warm-up work on a few threads, so JIT warm-up and
  * the pre-run checks cost less wall time. */
object Par {
  def apply[T](threads: Int)(tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] { def call(): T = t() }))
      fs.map(_.get())
    } finally pool.shutdown()
  }
}

object Stats {
  /** Linear-interpolated percentile (the `statistics.quantiles`
    * inclusive method) of latencies, in ms. */
  def pctMs(latNs: Array[Long], p: Double): Double = {
    if (latNs.isEmpty) return Double.NaN
    val xs = latNs.sorted.map(x => if (x == Long.MaxValue) Double.PositiveInfinity else x / 1e6)
    val pos = p * (xs.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, xs.length - 1)
    if (xs(hi).isInfinite) xs(hi)
    else xs(lo) + (xs(hi) - xs(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** A benchmark workload. A run calls [[setup]] once, then
  * [[prepare]] (warm-up and the pre-run checks), then one measured
  * [[loop]] (untraced) — or, in the traced run, an untraced loop and a
  * traced loop of half the time each — and finally [[verify]]. */
trait Workload {
  def name: String
  def sizes: String
  def setup(ctx: Ctx): Unit
  def prepare(ctx: Ctx, checks: Checks): Unit
  def loop(ctx: Ctx, seconds: Double): Phase
  def verify(ctx: Ctx, checks: Checks): Unit
  /** Bytes the workload keeps on disk per input item. */
  def storedBytesPerItem(ctx: Ctx): Double
  /** The workload's own end-to-end metrics (name, value, unit). */
  def named(p: Phase): Seq[(String, Double, String)]
  /** Per-layer metrics from the traced loop (spans in `ctx.tracer`). */
  def layers(ctx: Ctx, traced: Phase): Map[String, Double]
}

object Main {
  /** End-to-end metrics: every run reports all of them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "throughput" -> "1/s",
    "p50_ms" -> "ms", "p95_ms" -> "ms", "stored_bytes_per_item" -> "B")

  /** Per-layer metrics: every traced run reports all of them, and a
    * layer the workload does not call reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "api.order_book.p50_ms" -> "ms", "api.spread_at.p50_ms" -> "ms",
    "api.depth.p50_ms" -> "ms", "api.events.p50_ms" -> "ms",
    "api.depth_summary.p50_ms" -> "ms", "api.sql_depth.p50_ms" -> "ms",
    "api.sql_order_book.p50_ms" -> "ms", "api.cached_depth.p50_ms" -> "ms",
    "api.plan_ms" -> "ms", "api.exec_ms" -> "ms",
    "cache.hit_frac" -> "ratio", "cache.loader_calls" -> "count",
    "cache.rows_held" -> "count",
    "lake.append_s" -> "s", "lake.compact_s" -> "s",
    "lake.bytes_written" -> "B", "lake.files_written" -> "count",
    "lake.bytes_rewritten" -> "B",
    "lake.files_read" -> "count", "lake.bytes_read" -> "B",
    "lake.rows_read_per_row_returned" -> "ratio",
    "level3.build_s" -> "s", "level3.continue_s" -> "s",
    "level3.open_state_s" -> "s", "level3.carry_rows" -> "count",
    "level3.rows_out" -> "count",
    "replay.spread_s" -> "s", "replay.depth_changes_s" -> "s",
    "replay.trading_period_s" -> "s", "replay.groups" -> "count",
    "replay.seed_rows_per_event" -> "ratio", "replay.task_skew" -> "ratio",
    "events.s" -> "s", "trades.s" -> "s", "grid.s" -> "s",
    "snapshot.s" -> "s", "summary.s" -> "s",
    "sequential.strategy_s" -> "s", "sequential.draws_s" -> "s",
    "stream.l1.trigger_ms" -> "ms", "stream.l2.trigger_ms" -> "ms",
    "stream.state_rows" -> "count", "stream.state_bytes" -> "B",
    "stream.rows_out" -> "count",
    "curate.s" -> "s", "semdedup.s" -> "s", "ivf.build_s" -> "s",
    "ivf.probe_s" -> "s", "neardup.pairs_kept_per_candidate" -> "ratio",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "B", "spark.spill_bytes" -> "B",
    "spark.gc_s" -> "s", "spark.busy_frac" -> "ratio",
    "trace.overhead_frac" -> "ratio")

  val Workloads: Map[String, () => Workload] = Map(
    "book_queries" -> (() => new BookQueries),
    "history_replay" -> (() => new HistoryReplay),
    "ingest" -> (() => new Ingest),
    "curate" -> (() => new Curate))

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong,
      need("--seconds").toDouble, need("--trace") == "1",
      need("--run-dir"), need("--spans"))
  }

  def session(opts: Opts, cores: Int, extensions: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"obbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${opts.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.runDir}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${opts.runDir}/checkpoints")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.sql.streaming.ui.enabled", "false")
    if (extensions) b.withExtensions(new graft.functions.GraftExtensions)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def json(metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).toString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString("{", ", ", "}")

  def main(args: Array[String]): Unit = {
    val code = try run(parse(args)) catch {
      case e: Throwable =>
        System.err.println(s"benchmark failed: $e")
        e.printStackTrace()
        2
    }
    System.out.flush()
    System.exit(code)
  }

  private def run(opts: Opts): Int = {
    val mk = Workloads.getOrElse(opts.workload,
      throw new IllegalArgumentException(
        s"unknown workload ${opts.workload}; one of ${Workloads.keys.mkString(", ")}"))
    val w = mk()
    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    val spark = session(opts, cores, extensions = w.name == "book_queries")
    try {
      val engine = Engine.install(spark)
      // set-up and checks are traced in the traced run; the first
      // measured loop never is
      val tracer = new Tracer(opts.trace, spark)
      val ctx = new Ctx(spark, opts, tracer, engine, cores)
      val plainCtx = new Ctx(spark, opts, new Tracer(false, spark), engine, cores)
      val checks = new Checks
      def log(msg: String): Unit = System.err.println(
        f"[obbench ${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%7.2f s] $msg")
      log("session up")
      val t0 = System.nanoTime()
      w.setup(ctx)
      val buildS = (System.nanoTime() - t0) / 1e9
      log(f"set up in $buildS%.2f s")
      w.prepare(ctx, checks)
      log("prepared")
      // setup_s: process start -> first timed operation (JVM and session
      // start, input generation, lake build, warm-up and pre-run checks)
      val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
      val setupS = (System.currentTimeMillis() - startMs) / 1000.0

      val (phase, tracedPhase, layerMap) =
        if (!opts.trace) (w.loop(plainCtx, opts.seconds), None, Map.empty[String, Double])
        else {
          // untraced half, then traced half: engine counters come from the
          // untraced half, spans from the traced one
          Engine.drain(spark)
          val before = engine.snapshot
          val plain = w.loop(plainCtx, opts.seconds / 2)
          Engine.drain(spark)
          val after = engine.snapshot
          val tracer2 = new Tracer(true, spark)
          val tctx = new Ctx(spark, opts, tracer2, engine, cores)
          val traced = w.loop(tctx, opts.seconds / 2)
          Engine.drain(spark)
          def d(k: String) = (after.getOrElse(k, 0L) - before.getOrElse(k, 0L)).toDouble
          val wallS = plain.wallNs / 1e9
          val eng = Map(
            "spark.jobs" -> d("jobs"), "spark.tasks" -> d("tasks"),
            "spark.shuffle_write_bytes" -> d("shuffle_write_bytes"),
            "spark.spill_bytes" -> d("spill_bytes"),
            "spark.gc_s" -> d("gc_ms") / 1000.0,
            "spark.busy_frac" -> d("run_ms") / 1000.0 / (wallS * cores),
            "lake.files_read" -> d("files_read") / math.max(1L, plain.ops),
            "lake.bytes_read" -> d("input_bytes") / math.max(1L, plain.ops),
            "lake.rows_read_per_row_returned" ->
              d("input_records") / math.max(1L, plain.rowsOut),
            "trace.overhead_frac" -> (traced.perUnitNs / plain.perUnitNs - 1.0))
          tracer2.write(opts.spans)
          // set-up layers from the traced set-up, then the
          // workload's own (which win where both exist)
          val setupLayers = Map("level3.build" -> "level3.build_s",
            "lake.append" -> "lake.append_s", "lake.compact" -> "lake.compact_s")
          val fromSetup = tracer.summary.collect {
            case (n, (c, t, _)) if setupLayers.contains(n) => setupLayers(n) -> t / 1e9 / c
          }
          (plain, Some(traced), eng ++ fromSetup ++ w.layers(tctx, traced))
        }
      log(s"measured ${phase.ops} ops")
      w.verify(ctx, checks)
      log("verified")

      val attempted = phase.ops + tracedPhase.map(_.ops).getOrElse(0L) + checks.attempted
      val failed = phase.failed + tracedPhase.map(_.failed).getOrElse(0L) + checks.failed
      val e2e = Map(
        "setup_s" -> setupS,
        "peak_rss_mb" -> Engine.peakRssMb,
        "throughput" -> phase.work / (phase.wallNs / 1e9),
        "p50_ms" -> Stats.pctMs(phase.latNs, 0.50),
        "p95_ms" -> Stats.pctMs(phase.latNs, 0.95),
        "stored_bytes_per_item" -> w.storedBytesPerItem(ctx))
      // the workload's own names, for people reading the output
      val named = Seq(
        ("setup_s", setupS, "s"),
        ("inputs_and_lake_s", buildS, "s"),
        ("fail_frac", failed.toDouble / math.max(1L, attempted), "ratio"),
        ("peak_rss_mb", e2e("peak_rss_mb"), "MB"),
        ("samples", phase.latNs.length.toDouble, "count")) ++ w.named(phase)
      val layerInfo =
        if (!opts.trace) ""
        else s""", "layer_metrics": ${json(layerMap.toSeq.sortBy(_._1).map { case (n, v) => (n, v, "") })}"""
      println(s"""{"workload": "${w.name}", "seed": ${opts.seed}, "sizes": "${w.sizes}", "named_metrics": ${json(named)}$layerInfo}""")
      val metrics =
        if (!opts.trace) EndToEnd.map { case (n, u) => (n, e2e(n), u) }
        else PerLayer.map { case (n, u) => (n, layerMap.getOrElse(n, 0.0), u) }
      val ok = failed == 0
      println(s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, "metrics": ${json(metrics)}}""")
      if (ok) 0 else 1
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => })
      spark.stop()
    }
  }
}
