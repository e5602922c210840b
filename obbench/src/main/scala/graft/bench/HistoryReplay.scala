package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftApi
import graft.market.{Level3Source, MarketOps}
import graft.storage.Lake

/** The batch side, run by one client in whole passes: the full-history
  * job set over a stored lake of months of events, most of them on one
  * pair, a deep book and a few multi-hour silences — plus the
  * training-data curation jobs ([[CurateJobs]]) over a generated corpus.
  * Every job's answer is checked against the first pass. */
final class HistoryReplay extends Workload {
  val name = "history_replay"
  val spec = FlowSpec(users = 4000, events = 40000, days = 90,
    deleteShare = 0.15, hotShare = 0.8, hotUserShare = 0.5, gaps = 4,
    gapHours = 3.0, startMicros = OrderFlow.Epoch2024)
  val curation = new CurateJobs(CurateJobs.Spec)
  def sizes: String = s"${spec.describe}; corpus: ${curation.sizes}; clients=1"

  val Phi = 0.5
  val Rho = 1e-6
  val Epsilon = 2.0
  val SummaryFreq: Long = 24L * 3600 * 1000000

  private var spark: SparkSession = _
  private var path: String = _
  private var rows = 0L
  private var lake: DataFrame = _
  private var expected: Map[String, (Long, Long)] = Map.empty

  /** The job set of one pass over level3 `l3`. */
  private def jobs(l3: DataFrame, tr: Tracer): Seq[Job] = {
    val api = GraftApi(spark, l3)
    def job(n: String, layer: String, f: => DataFrame) =
      Job(n, layer, rows.toDouble, () => Digests.of(f))
    Seq(
      job("spread", "replay.spread", api.spread()),
      job("depth_changes", "replay.depth_changes", l2(MarketOps.depthChanges(l3, spark))),
      job("trading_period", "replay.trading_period", api.tradingPeriod(50)),
      job("trades", "trades", api.trades()),
      job("summary", "summary", api.summary()),
      job("trading_strategy", "sequential.strategy", api.tradingStrategy(Phi, Rho)),
      job("epsilon_draws", "sequential.draws", api.epsilonDrawUpDowns(Epsilon)),
      job("depth_summary_freq", "grid", api.depthSummaryAtFreq(SummaryFreq))) ++
      curation.jobs(tr)
  }

  def setup(ctx: Ctx): Unit = {
    import ctx.tracer
    spark = ctx.spark
    val events = tracer.span("gen") { OrderFlow.generate(spec, ctx.opts.seed) }
    val p = ctx.dir("history_lake")
    val l3 = tracer.span("level3.build") {
      val b = Level3Source.level3(OrderFlow.toDF(spark, events.toSeq, ctx.cores))
      if (tracer.enabled) b.localCheckpoint(true) else b
    }
    tracer.span("lake.append") { Lake.writeLevel3(l3, p) }
    tracer.span("lake.compact") { Lake.compactLevel3(spark, p) }
    path = p
    rows = events.length
    lake = Lake.readLevel3(spark, p)
    curation.setup(ctx)
  }

  /** Depth changes in the twins' common shape. */
  private def l2(df: DataFrame): DataFrame =
    df.select(col("pair_id").cast("long").as("pair_id"), col("ts"),
      col("side"), col("price"), col("volume"))

  def prepare(ctx: Ctx, checks: Checks): Unit = {
    // first pass: warm-up and the reference answers of every job, run
    // together with the single-pass twins of the sliced kernels
    val twins = Seq(
      Job("spread_unsliced", "", 0, () => Digests.of(MarketOps.spreadUnsliced(lake, spark))),
      Job("depth_changes_sql", "", 0, () => Digests.of(l2(MarketOps.depthChangesSql(lake)))))
    val got = Passes.first(jobs(lake, ctx.tracer) ++ twins, checks)
    expected = got -- twins.map(_.name)
    checks("sliced spread equals the single-pass spread") {
      got("spread") == got("spread_unsliced")
    }
    checks("sliced depth changes equal the interval-unpivot twin") {
      got("depth_changes") == got("depth_changes_sql")
    }
  }

  def loop(ctx: Ctx, seconds: Double): Phase = {
    val tr = ctx.tracer
    // traced: the lake layer's output is materialized first, so each job
    // span holds only its own layer's work
    val l3 = if (!tr.enabled) lake else tr.root("lake.read") {
      Lake.readLevel3(spark, path).localCheckpoint(true)
    }
    Passes.loop(ctx, jobs(l3, tr), expected, seconds)
  }

  def verify(ctx: Ctx, checks: Checks): Unit = ()

  def storedBytesPerItem(ctx: Ctx): Double = Engine.dirBytes(path).toDouble / rows

  /** Market jobs come first in every pass, the curation jobs after. */
  private val MarketJobs = 8

  def named(p: Phase): Seq[(String, Double, String)] = {
    val perPass = MarketJobs + curation.JobCount
    val (market, curate) = p.latNs.zipWithIndex.filter(_._1 != Long.MaxValue)
      .partition(_._2 % perPass < MarketJobs)
    def rate(units: Double, xs: Array[(Long, Int)]) =
      if (xs.isEmpty) 0.0 else units * xs.length / (xs.map(_._1).sum / 1e9)
    Seq(
      ("history_events_per_s", rate(rows.toDouble, market), "1/s"),
      ("curate_docs_per_s", rate(curation.spec.docs.toDouble / curation.JobCount, curate), "1/s"),
      ("job_p50_ms", Stats.pctMs(p.latNs, 0.5), "ms"),
      ("jobs", p.ops.toDouble, "count"))
  }

  def layers(ctx: Ctx, traced: Phase): Map[String, Double] = {
    val sum = ctx.tracer.summary
    def meanS(span: String) = sum.get(span).map { case (c, t, _) => t / 1e9 / c }.getOrElse(0.0)
    val sliced = MarketOps.slicedEvents(lake, spark, MarketOps.DefaultSliceMicros)
    val groups = sliced.select("pairId", "slice").distinct().count()
    val seeds = sliced.filter(col("seed")).count()
    Map(
      "replay.spread_s" -> meanS("replay.spread"),
      "replay.depth_changes_s" -> meanS("replay.depth_changes"),
      "replay.trading_period_s" -> meanS("replay.trading_period"),
      "replay.groups" -> groups.toDouble,
      "replay.seed_rows_per_event" -> seeds.toDouble / rows,
      "replay.task_skew" -> ctx.engine.taskSkew("replay.spread"),
      "trades.s" -> meanS("trades"),
      "summary.s" -> meanS("summary"),
      "grid.s" -> meanS("grid"),
      // the state machine: the last grouped stage of each call
      "sequential.strategy_s" -> ctx.engine.lastKernelStageS("sequential.strategy"),
      "sequential.draws_s" -> ctx.engine.lastKernelStageS("sequential.draws")) ++
      curation.layers(ctx.tracer)
  }
}
