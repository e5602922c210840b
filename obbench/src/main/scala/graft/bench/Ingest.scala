package graft.bench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.market.{BookEvent, Level3Source, MarketOps}
import graft.storage.Lake
import graft.streaming.StreamingOps

/** The periodic ETL run: one feeder hands in a week of new events per
  * batch. Each batch is built on the carried open-order state
  * (`Level3Source.continueBuild`), merged into the lake by an
  * incremental partition overwrite (the leaves of the batch's new rows
  * and of the pointer corrections of the orders it continues), and fed
  * to running L1/L2 streaming queries. The loop runs whole cycles of
  * `CompactEvery` batches, each cycle ending with a lake compaction. */
final class Ingest extends Workload {
  import OrderFlow.DayMicros

  val name = "ingest"
  val history = FlowSpec(users = 1500, events = 8000, days = 60,
    deleteShare = 0.2, hotShare = 0.6, hotUserShare = 0.5, gaps = 1,
    gapHours = 3.0, startMicros = OrderFlow.Epoch2024)
  val BatchEvents = 750
  val BatchDays = 7
  val CompactEvery = 1
  /** Unmeasured cycles before the loop: the first one is still cold. */
  val WarmCycles = 2
  def sizes: String =
    s"history: ${history.describe}; batch=$BatchDays days of $BatchEvents events, " +
      s"compact every $CompactEvery, clients=1"

  private var spark: SparkSession = _
  private var seed = 0L
  private var path: String = _
  private var state: DataFrame = _
  private var allEvents = mutable.ArrayBuffer.empty[Event]
  private val mids = Array(150.0, 150.0, 150.0)
  private var batchNo = 0
  private var l1q, l2q: StreamingQuery = _
  private var l1in, l2in: MemoryStream[BookEvent] = _
  private var streamSeen = Set.empty[(String, Long)]
  // per-loop layer figures
  private val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  /** Generator settings of batch `k`: week k after the history. */
  def batchSpec(k: Int): FlowSpec = history.copy(events = BatchEvents,
    days = BatchDays, gaps = 0,
    startMicros = history.startMicros + (history.days + k * BatchDays) * DayMicros)

  private def batchEvents(k: Int): Array[Event] =
    OrderFlow.generate(batchSpec(k), seed * 7919 + k + 1,
      firstEventId = history.events + k.toLong * BatchEvents, mids = mids)

  private def withUser(l3: DataFrame, events: DataFrame): DataFrame =
    l3.join(events.select(col("event_id").as("u_eid"), col("user_id")),
      col("event_id") === col("u_eid")).drop("u_eid")

  def setup(ctx: Ctx): Unit = {
    import ctx.tracer
    spark = ctx.spark
    seed = ctx.opts.seed
    Array.fill(3)(150.0).copyToArray(mids)
    val events = tracer.span("gen") { OrderFlow.generate(history, seed, mids = mids) }
    val df = OrderFlow.toDF(spark, events.toSeq, ctx.cores)
    val p = ctx.dir("ingest_lake")
    val l3 = tracer.span("level3.build") {
      withUser(Level3Source.level3(df), df).localCheckpoint(true)
    }
    tracer.span("lake.append") { Lake.writeLevel3(l3.drop("user_id"), p) }
    tracer.span("lake.compact") { Lake.compactLevel3(spark, p) }
    state = tracer.span("level3.open_state") {
      Level3Source.openState(l3).localCheckpoint(true)
    }
    path = p
    allEvents = mutable.ArrayBuffer.from(events)
    batchNo = 0
  }

  private def bookEvents(l3: DataFrame): Array[BookEvent] = {
    val ss = spark
    import ss.implicits._
    l3.select(col("pair_id").as("pairId"), col("microtimestamp").as("ts"),
      col("order_id").as("orderId"), col("side"), col("price"),
      col("amount"), col("is_deleted").as("isDeleted"))
      .orderBy("ts", "orderId").as[BookEvent].collect()
  }

  def prepare(ctx: Ctx, checks: Checks): Unit = {
    val ss = spark
    import ss.implicits._
    l1in = MemoryStream[BookEvent](spark)
    l2in = MemoryStream[BookEvent](spark)
    val ck = ctx.dir("checkpoints")
    l1q = StreamingOps.l1Stream(l1in.toDS(), spark).writeStream
      .outputMode("append").format("memory").queryName("bench_l1")
      .option("checkpointLocation", s"$ck/l1").start()
    l2q = StreamingOps.l2Stream(l2in.toDS(), spark).writeStream
      .outputMode("append").format("memory").queryName("bench_l2")
      .option("checkpointLocation", s"$ck/l2").start()
    // the streams start from the stored history
    val hist = bookEvents(Lake.readLevel3(spark, path))
    feed(hist)
    (0 until WarmCycles).foreach { _ =>
      (0 until CompactEvery).foreach(_ => step(ctx, measured = false))
      compact(ctx, measured = false)
    }
  }

  private def feed(evs: Seq[BookEvent]): Unit = {
    l1in.addData(evs)
    l2in.addData(evs)
    l1q.processAllAvailable()
    l2q.processAllAvailable()
  }

  /** One batch; returns (events, latency ns, generation ns) — latency
    * ends when the lake append and the L1/L2 emissions are done. The
    * state hand-over runs after that, inside the loop's wall time;
    * generating the batch is outside both. */
  private def step(ctx: Ctx, measured: Boolean): (Int, Long, Long) = {
    val tr = ctx.tracer
    val k = batchNo
    batchNo += 1
    val g0 = System.nanoTime()
    val evs = batchEvents(k)
    val t0 = System.nanoTime()
    val df = OrderFlow.toDF(spark, evs.toSeq, ctx.cores)
    val (newRows, corrections) = tr.span("level3.continue") {
      val (n, c) = Level3Source.continueBuild(df, state)
      (n.localCheckpoint(true), c.localCheckpoint(true))
    }
    tr.span("lake.append") { append(newRows, corrections) }
    tr.span("stream.feed") { feed(bookEvents(newRows).toSeq) }
    val lat = System.nanoTime() - t0
    val next = tr.span("level3.open_state") { nextState(withUser(newRows, df)) }
    if (measured) {
      acc("carry_rows") += state.filter(col("order_id").isNotNull).count()
      acc("rows_out") += newRows.count()
      acc("batches") += 1
    }
    state = next
    allEvents ++= evs
    (evs.length, lat, t0 - g0)
  }

  private def compact(ctx: Ctx, measured: Boolean): Unit = {
    val before = Engine.dirBytes(path)
    ctx.tracer.root("lake.compact") { Lake.compactLevel3(spark, path) }
    if (measured) acc("bytes_rewritten") += before
  }

  /** Merge the batch into the lake: every (pair, month) leaf the batch
    * touches — its own rows and the rows its corrections re-point — is
    * rewritten whole by a dynamic partition overwrite. */
  private def append(newRows: DataFrame, corrections: DataFrame): Unit = {
    val month = date_format(timestamp_micros(col("microtimestamp")), "yyyy-MM")
    val touchedNew = newRows.select(col("pair_id"), month.as("month"))
    val touchedOld = corrections.join(state.select(col("order_id"),
        col("last_ts").as("microtimestamp"), ((col("user_id") % 3) + 1).cast("int").as("pair_id")),
      Seq("order_id")).select(col("pair_id"), month.as("month"))
    val leaves = touchedNew.union(touchedOld).distinct().collect()
      .map(r => (r.getInt(0), r.getString(1)))
    val leafFilter = leaves.map { case (p, m) =>
      col("pair_id") === p && col("month") === m }.reduceOption(_ || _).getOrElse(lit(false))
    val old = spark.read.parquet(path).filter(leafFilter)
      .withColumn("exchange_id", col("exchange_id").cast("int"))
      .withColumn("pair_id", col("pair_id").cast("int"))
      .drop("month")
    val fixed = old.join(corrections.select(col("order_id").as("c_oid"),
          col("event_no").as("c_eno"), col("new_next")),
        col("order_id") === col("c_oid") && col("event_no") === col("c_eno"), "left")
      .withColumn("next_microtimestamp", coalesce(col("new_next"), col("next_microtimestamp")))
      .drop("c_oid", "c_eno", "new_next")
    // materialize before the overwrite: the leaves being replaced are
    // this frame's input
    val merged = fixed.unionByName(newRows).localCheckpoint(true)
    // files of earlier batches and compactions are seconds older
    val since = System.currentTimeMillis() - 1
    Lake.writeLevel3(merged, path, incremental = true)
    val (files, bytes) = Engine.filesWrittenSince(path, since)
    acc("files_written") += files
    acc("bytes_written") += bytes
  }

  /** Carried state after a batch: deletion counts add up; a user seen in
    * the batch takes its open order from the batch, others keep theirs. */
  private def nextState(batch: DataFrame): DataFrame = {
    val b = Level3Source.openState(batch)
    val prev = state.select(col("user_id"), col("del_base").as("p_del"),
      col("order_id").as("p_oid"), col("event_count").as("p_cnt"),
      col("last_ts").as("p_ts"), col("last_price").as("p_price"),
      col("last_amount").as("p_amount"), col("chain_ts").as("p_chain_ts"),
      col("chain_eno").as("p_chain_eno"))
    val seen = col("del_base").isNotNull
    prev.join(b, Seq("user_id"), "full")
      .select(col("user_id"),
        (coalesce(col("p_del"), lit(0L)) + coalesce(col("del_base"), lit(0L))).as("del_base"),
        when(seen, col("order_id")).otherwise(col("p_oid")).as("order_id"),
        when(seen, col("event_count")).otherwise(col("p_cnt")).as("event_count"),
        when(seen, col("last_ts")).otherwise(col("p_ts")).as("last_ts"),
        when(seen, col("last_price")).otherwise(col("p_price")).as("last_price"),
        when(seen, col("last_amount")).otherwise(col("p_amount")).as("last_amount"),
        when(seen, col("chain_ts")).otherwise(col("p_chain_ts")).as("chain_ts"),
        when(seen, col("chain_eno")).otherwise(col("p_chain_eno")).as("chain_eno"))
      .localCheckpoint(true)
  }

  private val triggerMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  private def progress(q: StreamingQuery, key: String, measured: Boolean): Unit =
    q.recentProgress.filter(p => p.numInputRows > 0 && !streamSeen((key, p.batchId)))
      .foreach { p =>
        streamSeen += ((key, p.batchId))
        if (measured) {
          triggerMs.getOrElseUpdate(key, mutable.ArrayBuffer.empty) +=
            p.durationMs.get("triggerExecution").doubleValue()
          p.stateOperators.headOption.foreach { s =>
            acc(s"$key.state_rows") = s.numRowsTotal.toDouble
            acc(s"$key.state_bytes") = s.memoryUsedBytes.toDouble
          }
          acc("stream_rows_out") += math.max(0L, p.sink.numOutputRows)
        }
      }

  def loop(ctx: Ctx, seconds: Double): Phase = {
    acc.clear(); triggerMs.clear()
    progress(l1q, "l1", measured = false); progress(l2q, "l2", measured = false)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val lats = mutable.ArrayBuffer.empty[Long]
    val cycleNs = mutable.ArrayBuffer.empty[Long]
    var failed = 0L
    var committed = 0L
    // whole cycles only; the last one starts only if it should end in time
    while (cycleNs.isEmpty || System.nanoTime() + cycleNs.last * 9 / 10 < deadline) {
      val c0 = System.nanoTime()
      var genNs = 0L
      (0 until CompactEvery).foreach { _ =>
        val res = try Some(ctx.tracer.root("ingest.batch") { step(ctx, measured = true) })
        catch { case e: Throwable =>
          System.err.println(s"batch ${batchNo - 1} failed: $e"); None }
        res match {
          case Some((n, lat, gen)) =>
            committed += n; lats += lat; genNs += gen
          case None => failed += 1; lats += Long.MaxValue
        }
        progress(l1q, "l1", measured = true); progress(l2q, "l2", measured = true)
      }
      try compact(ctx, measured = true) catch { case e: Throwable =>
        System.err.println(s"compaction failed: $e"); failed += 1 }
      cycleNs += System.nanoTime() - c0 - genNs
    }
    Phase(lats.size.toLong, failed, lats.toArray, cycleNs.sum, committed.toDouble,
      acc("rows_out").toLong)
  }

  def verify(ctx: Ctx, checks: Checks): Unit = {
    val evs = OrderFlow.toDF(spark, allEvents.toSeq, ctx.cores)
    val want = Level3Source.level3(evs).localCheckpoint(true)
    val lake = Lake.readLevel3(spark, path)
    def norm(df: DataFrame) = df.select(lake.columns.sorted.toIndexedSeq.map(c =>
      col(c).cast(lake.schema(c).dataType)): _*)
    checks("continueBuild + lake equals level3 over the same events") {
      Digests.of(norm(lake)) == Digests.of(norm(want))
    }
    val l1Cols = Seq("pair_id", "ts", "bid_price", "bid_qty", "ask_price", "ask_qty")
    val l2Cols = Seq("pair_id", "ts", "side", "price", "volume")
    def pick(df: DataFrame, cs: Seq[String]) = df.select(cs.map(col): _*)
    checks("L1 stream emissions equal the batch spread") {
      Digests.of(pick(spark.table("bench_l1"), l1Cols)) ==
        Digests.of(pick(MarketOps.spread(want, spark), l1Cols))
    }
    checks("L2 stream emissions equal the batch depth changes") {
      Digests.of(pick(spark.table("bench_l2"), l2Cols)) ==
        Digests.of(pick(MarketOps.depthChanges(want, spark), l2Cols))
    }
  }

  def storedBytesPerItem(ctx: Ctx): Double =
    Engine.dirBytes(path).toDouble / allEvents.size

  def named(p: Phase): Seq[(String, Double, String)] = Seq(
    ("ingest_events_per_s", p.work / (p.wallNs / 1e9), "1/s"),
    ("batch_p50_ms", Stats.pctMs(p.latNs, 0.5), "ms"),
    ("batch_p95_ms", Stats.pctMs(p.latNs, 0.95), "ms"),
    ("batches", p.ops.toDouble, "count"))

  def layers(ctx: Ctx, traced: Phase): Map[String, Double] = {
    val sum = ctx.tracer.summary
    val n = math.max(1.0, acc("batches"))
    def meanS(span: String) = sum.get(span).map { case (c, t, _) => t / 1e9 / c }.getOrElse(0.0)
    def trig(k: String) = triggerMs.get(k).map(xs => Stats.mean(xs.toSeq)).getOrElse(0.0)
    Map(
      "lake.append_s" -> meanS("lake.append"),
      "lake.bytes_written" -> acc("bytes_written") / n,
      "lake.files_written" -> acc("files_written") / n,
      "lake.compact_s" -> meanS("lake.compact"),
      "lake.bytes_rewritten" -> acc("bytes_rewritten") / n,
      "level3.continue_s" -> meanS("level3.continue"),
      "level3.open_state_s" -> meanS("level3.open_state"),
      "level3.carry_rows" -> acc("carry_rows") / n,
      "level3.rows_out" -> acc("rows_out") / n,
      "stream.l1.trigger_ms" -> trig("l1"),
      "stream.l2.trigger_ms" -> trig("l2"),
      "stream.state_rows" -> (acc("l1.state_rows") + acc("l2.state_rows")),
      "stream.state_bytes" -> (acc("l1.state_bytes") + acc("l2.state_bytes")),
      "stream.rows_out" -> acc("stream_rows_out") / n)
  }
}
