package graft.bench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One recorded call into a layer. `trace` groups the spans of one
  * request, job or batch; `parent` is the span that made the call
  * (0 = none). Times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    start: Long, end: Long)

/** Span recorder used around every call into a library layer. Disabled,
  * it only runs the body; enabled, it keeps spans in memory and tags the
  * Spark jobs a span starts (local property `bench.span`) so engine
  * counters can be attributed to it. */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** Run `body` as the root span of a new trace. The Spark queries the
    * trace starts carry the job tag [[Tracer.tag]] of its id. */
  def root[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val saved = stack.get
      stack.set(Nil)
      val id = ids.incrementAndGet()
      val sc = spark.sparkContext
      sc.addJobTag(Tracer.tag(id))
      try open(id, name, 0L, id)(body)
      finally { sc.removeJobTag(Tracer.tag(id)); stack.set(saved) }
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val (parent, trace) = stack.get match {
        case (p, t) :: _ => (p, t)
        case Nil => (0L, id)
      }
      open(id, name, parent, trace)(body)
    }

  private def open[T](id: Long, name: String, parent: Long, trace: Long)(body: => T): T = {
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty("bench.span")
    stack.set((id, trace) :: stack.get)
    sc.setLocalProperty("bench.span", name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      spans.add(Span(id, parent, trace, name, t0, t1))
      stack.set(stack.get.tail)
      sc.setLocalProperty("bench.span", prevProp)
    }
  }

  /** Trace ids of the root spans called `name`. */
  def traces(name: String): Seq[Long] =
    all.filter(s => s.parent == 0L && s.id == s.trace && s.name == name).map(_.trace)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Per span name: (calls, total ns, self ns). A span's self time is
    * its duration minus the union of its children's intervals. */
  def summary: Map[String, (Long, Long, Long)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, xs) =>
      val total = xs.map(s => s.end - s.start).sum
      val self = xs.map { s =>
        val cs = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curS = Long.MinValue
        var curE = Long.MinValue
        cs.foreach { case (a, b) =>
          if (a > curE) {
            if (curE > curS) covered += curE - curS
            curS = a; curE = b
          } else curE = math.max(curE, b)
        }
        if (curE > curS) covered += curE - curS
        (s.end - s.start) - covered
      }.sum
      name -> (xs.size.toLong, total, self)
    }
  }

  /** Write the spans as JSON lines, one span per line. */
  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val out = new PrintWriter(f, "UTF-8")
    try {
      val self = summary
      all.sortBy(_.start).foreach { s =>
        out.println(s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},""" +
          s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
          s""""dur_ms":${(s.end - s.start) / 1e6}}""")
      }
      self.toSeq.sortBy(_._1).foreach { case (n, (c, t, sf)) =>
        out.println(s"""{"summary":"$n","calls":$c,"total_ms":${t / 1e6},"self_ms":${sf / 1e6}}""")
      }
    } finally out.close()
  }
}

object Tracer {
  val TagPrefix = "bench-trace-"
  def tag(trace: Long): String = TagPrefix + trace
}
