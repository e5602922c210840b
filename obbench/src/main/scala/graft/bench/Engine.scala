package graft.bench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters gathered from Spark's listener bus: job/task counts,
  * shuffle, spill, GC and task run time, scan inputs; in a traced run
  * also, per stage, the span and trace that started it (the `bench.span`
  * property and the [[Tracer.tag]] job tag), the physical operators it
  * runs and its task times, and per trace the SQL queries it ran. */
final class EngineCounters extends SparkListener {
  private val c = new ConcurrentHashMap[String, AtomicLong]()
  private def add(k: String, v: Long): Unit =
    c.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)

  /** A traced stage: span name, trace id (0 = none), whether it runs a
    * grouped replay/state-machine operator (`flatMapSortedGroups`, whose
    * physical operator is `MapGroups`). */
  private final case class StageTag(span: String, trace: Long, kernel: Boolean)
  private val stageTag = new ConcurrentHashMap[Int, StageTag]()
  /** stage -> task run times in ms. */
  private val stageTasks = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  /** trace -> root SQL execution ids. */
  private val traceQueries = new ConcurrentHashMap[Long, java.util.Set[Long]]()

  private def traceOf(tags: Iterable[String]): Long =
    tags.collectFirst { case t if t.startsWith(Tracer.TagPrefix) =>
      t.stripPrefix(Tracer.TagPrefix).toLong }.getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("bench.span"))).foreach { s =>
      val tags = Option(e.properties.getProperty("spark.job.tags")).toSeq.flatMap(_.split(","))
      val kernel = org.apache.spark.BenchBus.operators(e.stageInfo).contains("MapGroups")
      stageTag.put(e.stageInfo.stageId, StageTag(s, traceOf(tags), kernel))
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case q: SparkListenerSQLExecutionStart =>
      val t = traceOf(q.jobTags)
      if (t != 0L) traceQueries.computeIfAbsent(t, _ => ConcurrentHashMap.newKeySet[Long]())
        .add(q.rootExecutionId.getOrElse(q.executionId))
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("gc_ms", m.jvmGCTime)
      add("run_ms", m.executorRunTime)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("input_records", m.inputMetrics.recordsRead)
      if (stageTag.containsKey(e.stageId)) {
        val buf = stageTasks.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
        buf.synchronized { buf += m.executorRunTime }
      }
    }
  }

  def addFilesRead(files: Long): Unit = add("files_read", files)

  def snapshot: Map[String, Long] = c.asScala.map { case (k, v) => k -> v.get }.toMap

  private def tasks(stage: Int): Vector[Long] =
    Option(stageTasks.get(stage)).map(b => b.synchronized(b.toVector)).getOrElse(Vector.empty)

  /** max ÷ median task time of the busiest stage of span `s`. */
  def taskSkew(s: String): Double = {
    val stages = stageTag.asScala.collect { case (id, t) if t.span == s => tasks(id) }.filter(_.nonEmpty)
    if (stages.isEmpty) 0.0
    else {
      val busiest = stages.maxBy(_.sum).sorted
      val med = busiest(busiest.size / 2).toDouble
      if (med <= 0) busiest.last.toDouble else busiest.last / med
    }
  }

  /** SQL queries (root executions) trace `t` ran. */
  def queries(t: Long): Int = Option(traceQueries.get(t)).map(_.size).getOrElse(0)

  /** Mean over the traces of span `s` of the summed task time, in s, of
    * the trace's last `MapGroups` stage — the most downstream grouped
    * operator of the call. */
  def lastKernelStageS(s: String): Double = {
    val perTrace = stageTag.asScala.toSeq.collect { case (id, t) if t.span == s && t.kernel && t.trace != 0L => (t.trace, id) }
      .groupBy(_._1).values.map(xs => tasks(xs.map(_._2).max).sum / 1000.0)
    if (perTrace.isEmpty) 0.0 else perTrace.sum / perTrace.size
  }
}

/** Counts the files each finished query scanned (the `numFiles` metric
  * of `FileSourceScanExec`, including lazy checkpoints). */
final class ScanListener(counters: EngineCounters)
    extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val scans = collect(qe.executedPlan) { case s: FileSourceScanExec => s }
    scans.foreach(s => counters.addFilesRead(s.metrics.get("numFiles").map(_.value).getOrElse(0L)))
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

object Engine {
  def install(spark: SparkSession): EngineCounters = {
    val c = new EngineCounters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(new ScanListener(c))
    c
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Bytes of regular files under a directory. */
  def dirBytes(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("."))
        .map(p => java.nio.file.Files.size(p)).sum
      finally walk.close()
    }
  }

  /** Data files under a directory last modified at or after `sinceMs`
    * (epoch ms): (files, bytes). */
  def filesWrittenSince(path: String, sinceMs: Long): (Long, Long) = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) (0L, 0L)
    else {
      val walk = java.nio.file.Files.walk(root)
      try {
        val fresh = walk.iterator().asScala.filter(p =>
          p.getFileName.toString.endsWith(".parquet") &&
            java.nio.file.Files.getLastModifiedTime(p).toMillis >= sinceMs).toSeq
        (fresh.size.toLong, fresh.map(p => java.nio.file.Files.size(p)).sum)
      } finally walk.close()
    }
  }

}

object Digests {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._
  /** Order-independent digest of a frame: (rows, Σ of the rows' 40-bit
    * xxhash64 prefixes, which cannot overflow the sum). */
  def of(df: DataFrame): (Long, Long) = {
    val h = shiftright(xxhash64(df.columns.toIndexedSeq.map(col): _*), 24)
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }
}

