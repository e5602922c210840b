package graft.bench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.GraftApi
import graft.market.Level3Source
import graft.storage.Lake

/** Analysts' interactive path: `Clients` closed-loop clients share one
  * session and send a seeded mix of `GraftApi` requests, SQL table
  * functions and cached-client depth pans against a stored, compacted
  * level3 lake. */
final class BookQueries extends Workload {
  import OrderFlow.{DayMicros, HourMicros}

  val name = "book_queries"
  val spec = FlowSpec(users = 1000, events = 30000, days = 20,
    deleteShare = 0.2, hotShare = 0.6, hotUserShare = 0.5, gaps = 2,
    gapHours = 3.0, startMicros = OrderFlow.Epoch2024)
  val Clients = 2
  /** The request schedule: every client cycles through this fixed order
    * (client c starting at offset 10c), so every run sends the same mix
    * and the seed only picks instants and pans. The weights are a
    * hand-picked choice, not measured analyst traffic: mostly snapshots
    * and depth, a minority of `events`, `depthSummary` and SQL, a share
    * of cached pans. */
  val Deck: Seq[String] = Seq(
    "order_book", "spread_at", "depth", "events", "order_book",
    "spread_at", "cached_depth", "order_book", "sql_order_book", "spread_at",
    "depth_summary", "order_book", "depth", "spread_at", "events",
    "order_book", "cached_depth", "sql_depth", "spread_at", "order_book",
    "depth")
  /** Depth and events windows (hours), taken in turn by each client. */
  val DepthWindowsH: Seq[Long] = Seq(1L, 3L, 6L, 12L, 24L)
  val EventsWindowsH: Seq[Long] = Seq(1L, 6L)
  def sizes: String = s"${spec.describe} clients=$Clients deck=${Deck.size}"

  private val Minute = 60L * 1000000
  private var seed = 0L
  private var spark: SparkSession = _
  private var path: String = _
  private var rows = 0L
  private var api: GraftApi = _
  private var tLo, tHi = 0L
  private var clients: IndexedSeq[Client] = IndexedSeq.empty
  private val seen = new ConcurrentHashMap[String, (Long, Long)]()
  private var lastByKind: Map[String, Array[Long]] = Map.empty

  final case class Req(kind: String, a: Long, b: Long, instants: Seq[Long]) {
    def key: String = s"$kind:$a:$b:${instants.mkString(",")}"
  }

  /** One analyst: own random stream, own browser cache, own pan. */
  final class Client(val id: Int, val rnd: SplittableRandom,
      val cache: GraftApi.CachedClient) {
    private var pos = 10 * id
    private var depthN = id
    private var eventsN = id
    var panStart: Long = 0L
    val panWidth: Long = 6 * HourMicros
    val recentCached = mutable.Queue.empty[(Long, Long, Long, Long)]

    /** A request instant on the minute grid, favouring recent data. */
    def instant(): Long = {
      val u = rnd.nextDouble()
      val back = ((tHi - tLo) * u * u).toLong
      tHi - (back / Minute) * Minute
    }

    def next(): Req = {
      val kind = Deck(pos % Deck.size)
      pos += 1
      // windows cycle through fixed lists, so only the instants are random
      kind match {
        case "order_book" | "spread_at" | "sql_order_book" =>
          Req(kind, instant(), 0L, Nil)
        case "depth" | "sql_depth" =>
          depthN += 1
          val w = DepthWindowsH(depthN % DepthWindowsH.size) * HourMicros
          val e = instant()
          Req(kind, e - w, e, Nil)
        case "events" =>
          val e = instant()
          eventsN += 1
          Req(kind, e - EventsWindowsH(eventsN % EventsWindowsH.size) * HourMicros, e, Nil)
        case "depth_summary" =>
          val e = instant()
          Req(kind, 0L, 0L, (0 until 4).map(k => e - k * HourMicros).reverse)
        case "cached_depth" =>
          // pan like a browser: mostly forward, sometimes back
          val step = if (rnd.nextDouble() < 0.65) 2 * HourMicros else -2 * HourMicros
          panStart = math.max(tLo, math.min(tHi - panWidth, panStart + step))
          Req(kind, panStart, panStart + panWidth, Nil)
      }
    }
  }

  def setup(ctx: Ctx): Unit = {
    import ctx.tracer
    spark = ctx.spark
    seed = ctx.opts.seed
    val events = tracer.span("gen") { OrderFlow.generate(spec, seed) }
    val p = ctx.dir("book_lake")
    val l3 = tracer.span("level3.build") {
      val b = Level3Source.level3(OrderFlow.toDF(spark, events.toSeq, ctx.cores))
      if (tracer.enabled) b.localCheckpoint(true) else b
    }
    tracer.span("lake.append") { Lake.writeLevel3(l3, p) }
    tracer.span("lake.compact") { Lake.compactLevel3(spark, p) }
    path = p
    rows = events.length
    tLo = events.head.tsMicros + DayMicros
    tHi = events.last.tsMicros
    val lake = Lake.readLevel3(spark, p)
    lake.createOrReplaceTempView("l3")
    api = GraftApi(spark, lake)
  }

  private def newClient(id: Int): Client = {
    val fixedNow = tHi + 30 * DayMicros
    val c = new Client(id, new SplittableRandom(seed * 1000003L + id),
      api.cachedClient(() => fixedNow))
    c.panStart = tHi - c.panWidth - (c.rnd.nextInt(5 * 24) * HourMicros)
    c
  }

  private def frame(r: Req): DataFrame = r.kind match {
    case "order_book" => api.orderBook(r.a)
    case "spread_at" => api.spreadAt(r.a)
    case "depth" => api.depth(r.a, r.b)
    case "events" => api.events(r.a, r.b)
    case "depth_summary" => api.depthSummary(r.instants)
    case "sql_depth" => spark.sql(s"SELECT * FROM depth('l3', ${r.a}, ${r.b})")
    case "sql_order_book" => spark.sql(s"SELECT * FROM order_book('l3', ${r.a})")
  }

  private def checksum(rs: Seq[Row]): Long = rs.foldLeft(0L)(_ + _.hashCode)

  /** Run one request; returns (rows, checksum). */
  private def exec(ctx: Ctx, c: Client, r: Req): (Long, Long) = {
    val tr = ctx.tracer
    val out: Seq[Row] =
      if (r.kind == "cached_depth") tr.span("cache.depth") {
        c.cache.depth(r.a, r.b)
      } else {
        val df = frame(r)
        if (tr.enabled) tr.span("api.plan") { df.queryExecution.executedPlan }
        tr.span("api.exec") { df.collect().toSeq }
      }
    (out.size.toLong, checksum(out))
  }

  def prepare(ctx: Ctx, checks: Checks): Unit = {
    clients = (0 until Clients).map(newClient)
    // warm-up: every request kind, each one also a check against its
    // twin, outside the measured loop
    val s = tHi - 12 * HourMicros
    val e = tHi - 6 * HourMicros
    def sorted(rs: Seq[Row]) = rs.map(_.toString).sorted
    def rows(df: DataFrame) = sorted(df.collect().toSeq)
    val (s2, e2) = (s + 2 * HourMicros, e + 2 * HourMicros)
    Par(2)(Seq(
      () => {
        val depth = rows(api.depth(s, e))
        checks("SQL depth() equals GraftApi.depth") {
          rows(spark.sql(s"SELECT * FROM depth('l3', $s, $e)")) == depth
        }
        val cc = api.cachedClient(() => tHi + 30 * DayMicros)
        checks(s"cached depth [$s, $e] equals uncached depth") {
          sorted(cc.depth(s, e)) == depth
        }
        checks(s"panned cached depth [$s2, $e2] equals uncached depth") {
          sorted(cc.depth(s2, e2)) == rows(api.depth(s2, e2))
        }
      },
      () => {
        checks("SQL order_book() equals GraftApi.orderBook") {
          rows(spark.sql(s"SELECT * FROM order_book('l3', $e)")) == rows(api.orderBook(e))
        }
        api.spreadAt(e).collect()
        api.depthSummary(Seq(s, e)).collect()
        api.events(s, e).collect()
      }))
  }

  def loop(ctx: Ctx, seconds: Double): Phase = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val lat = new ConcurrentHashMap[Int, mutable.ArrayBuffer[(String, Long)]]()
    val fails = new java.util.concurrent.atomic.AtomicLong()
    val rowsOut = new java.util.concurrent.atomic.AtomicLong()
    val threads = clients.map { c =>
      val t = new Thread(() => {
        val mine = mutable.ArrayBuffer.empty[(String, Long)]
        lat.put(c.id, mine)
        while (System.nanoTime() < deadline) {
          val r = c.next()
          val s = System.nanoTime()
          val res = try Some(ctx.tracer.root(s"api.${r.kind}") { exec(ctx, c, r) })
          catch { case e: Throwable =>
            System.err.println(s"request ${r.key} failed: $e"); None }
          val d = System.nanoTime() - s
          // a repeated request must return what it returned before
          val ok = res.exists { got =>
            val prev = seen.putIfAbsent(r.key, got)
            prev == null || prev == got
          }
          if (!ok) {
            fails.incrementAndGet()
            if (res.isDefined) System.err.println(s"request ${r.key} changed its answer")
          }
          mine += ((r.kind, if (ok) d else Long.MaxValue))
          res.foreach(x => rowsOut.addAndGet(x._1))
          if (r.kind == "cached_depth") res.foreach(x => c.synchronized {
            c.recentCached.enqueue((r.a, r.b, x._1, x._2))
            if (c.recentCached.size > 2) c.recentCached.dequeue()
          })
        }
      }, s"client-${c.id}")
      t.start(); t
    }
    threads.foreach(_.join())
    val wall = System.nanoTime() - t0
    val all = lat.values().toArray(Array.empty[mutable.ArrayBuffer[(String, Long)]]).flatten
    lastByKind = all.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2) }
    val ok = all.count(_._2 != Long.MaxValue)
    Phase(all.length.toLong, fails.get(), all.map(_._2), wall, ok.toDouble,
      rowsOut.get())
  }

  def verify(ctx: Ctx, checks: Checks): Unit =
    clients.foreach { c =>
      c.recentCached.foreach { case (a, b, n, sum) =>
        checks(s"cached depth [$a, $b] of client ${c.id} equals uncached depth") {
          val want = api.depth(a, b).collect().toSeq
          want.size == n && checksum(want) == sum
        }
      }
    }

  def storedBytesPerItem(ctx: Ctx): Double = Engine.dirBytes(path).toDouble / rows

  def named(p: Phase): Seq[(String, Double, String)] = Seq(
    ("query_p50_ms", Stats.pctMs(p.latNs, 0.5), "ms"),
    ("query_p95_ms", Stats.pctMs(p.latNs, 0.95), "ms"),
    ("query_rps", p.work / (p.wallNs / 1e9), "1/s"))

  def layers(ctx: Ctx, traced: Phase): Map[String, Double] = {
    val sum = ctx.tracer.summary
    def meanMs(span: String) = sum.get(span).map { case (c, t, _) => t / 1e6 / c }.getOrElse(0.0)
    def kindMeanS(kinds: String*) = {
      val xs = kinds.flatMap(k => lastByKind.getOrElse(k, Array.empty[Long]))
        .filter(_ != Long.MaxValue)
      if (xs.isEmpty) 0.0 else xs.sum / 1e9 / xs.size
    }
    val perKind = Deck.distinct.map { k =>
      s"api.$k.p50_ms" -> lastByKind.get(k).map(Stats.pctMs(_, 0.5)).getOrElse(0.0)
    }
    // rows the clients' caches hold: what their periods' loaders return
    val held = clients.map(c => c.cache.cachedPeriods.map { case (s, e) =>
      api.depthChangesOnly(s - 1, e - 1).count()
    }.sum).sum
    // loader calls, counted from the engine: a cached request runs one
    // query for its starting book plus one per loader call
    val loads = ctx.tracer.traces("api.cached_depth").map(t => math.max(0, ctx.engine.queries(t) - 1))
    val hits = loads.count(_ == 0)
    perKind.toMap ++ Map(
      "api.plan_ms" -> meanMs("api.plan"),
      "api.exec_ms" -> meanMs("api.exec"),
      "cache.hit_frac" -> (if (loads.nonEmpty) hits.toDouble / loads.size else 0.0),
      "cache.loader_calls" -> loads.sum.toDouble,
      "cache.rows_held" -> held.toDouble,
      "events.s" -> kindMeanS("events"),
      "grid.s" -> kindMeanS("depth_summary"),
      "snapshot.s" -> kindMeanS("order_book", "spread_at"))
  }
}
