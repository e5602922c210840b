package graft.bench

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One raw order-feed event in the library's `events` schema. The
  * level3 adapter derives everything else from these five fields:
  * pair = user_id % 3 + 1, side = bid for even users, ask price =
  * value + 80, amount = event_id % 20 + 1, and `event_type = 'error'`
  * deletes the user's live order. */
final case class Event(eventId: Long, tsMicros: Long, userId: Long,
    eventType: String, value: Double)

/** Size settings of the order-flow generator.
  *   - `users` bounds the live orders (one live order per user);
  *   - `hotUserShare` of the users, and `hotShare` of the events, sit on
  *     pair 1 (pair skew);
  *   - `gaps` silences of `gapHours` each (> 2 h starts a new era). */
final case class FlowSpec(users: Int, events: Int, days: Int,
    deleteShare: Double, hotShare: Double, hotUserShare: Double,
    gaps: Int, gapHours: Double, startMicros: Long) {
  def describe: String =
    s"users=$users events=$events days=$days delete=$deleteShare " +
      s"hot_pair_events=$hotShare hot_pair_users=$hotUserShare " +
      s"gaps=${gaps}x${gapHours}h"
}

/** Seeded order-flow generator: the same (spec, seed) gives the same
  * events, byte for byte. */
object OrderFlow {
  val DayMicros: Long = 86400L * 1000000
  val HourMicros: Long = 3600L * 1000000
  /** 2024-01-01T00:00:00Z in µs. */
  val Epoch2024: Long = 1704067200L * 1000000

  private val kinds = Array("click", "view", "purchase", "signup")

  /** User ids: hot users are multiples of 3 (pair 1), cold users the
    * others (pairs 2 and 3); ids alternate parity, so each pair gets
    * both sides. */
  def users(spec: FlowSpec): (Array[Long], Array[Long]) = {
    val nHot = math.max(2, (spec.users * spec.hotUserShare).toInt)
    val nCold = math.max(4, spec.users - nHot)
    val hot = Array.tabulate(nHot)(i => 3L * (i + 1))
    val cold = Array.tabulate(nCold)(i => 3L * (i / 2) + 1 + (i % 2))
    (hot, cold)
  }

  /** Events in `[startMicros, startMicros + days)`, ids from
    * `firstEventId`, minus the gap windows. `mids` carries each pair's
    * mid price across calls so consecutive batches continue one market. */
  def generate(spec: FlowSpec, seed: Long, firstEventId: Long = 0L,
      mids: Array[Double] = Array(150.0, 150.0, 150.0)): Array[Event] = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val (hot, cold) = users(spec)
    val span = spec.days * DayMicros
    val gapLen = (spec.gapHours * HourMicros).toLong
    val active = span - spec.gaps * gapLen
    require(active > 0, "gaps exceed the span")
    // gap positions in active-time coordinates, kept off the edges
    val gapAt = Array.fill(spec.gaps)(
      (active / 10) + rnd.nextLong(math.max(1L, active * 8 / 10))).sorted
    val at = Array.fill(spec.events)(rnd.nextLong(active))
    java.util.Arrays.sort(at)
    val out = new Array[Event](spec.events)
    var g = 0
    var shift = 0L
    var i = 0
    while (i < spec.events) {
      val t = at(i)
      while (g < gapAt.length && gapAt(g) <= t) { shift += gapLen; g += 1 }
      val user =
        if (rnd.nextDouble() < spec.hotShare) hot(rnd.nextInt(hot.length))
        else cold(rnd.nextInt(cold.length))
      val pair = (user % 3).toInt
      // mean-reverting mid, prices on a 0.5 grid so levels aggregate
      mids(pair) += -0.002 * (mids(pair) - 150.0) + rnd.nextGaussian() * 0.08
      val off = math.abs(rnd.nextGaussian()) * 2.5
      val price =
        if (user % 2 == 0) math.rint((mids(pair) - off) * 2) / 2
        else math.rint((mids(pair) + off) * 2) / 2 - 80.0
      val kind =
        if (rnd.nextDouble() < spec.deleteShare) "error"
        else kinds(rnd.nextInt(kinds.length))
      out(i) = Event(firstEventId + i, spec.startMicros + t + shift, user,
        kind, price)
      i += 1
    }
    out
  }

  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false),
    StructField("props", StringType, nullable = true)))

  def toDF(spark: SparkSession, events: Seq[Event], slices: Int): DataFrame = {
    val rows = events.map(e => Row(e.eventId,
      java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(e.tsMicros * 1000)),
      e.userId, e.eventType, e.value, null))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, slices)), Schema)
  }

  def digest(events: Seq[Event]): String = Digest.of { out =>
    events.foreach { e =>
      out.writeLong(e.eventId); out.writeLong(e.tsMicros)
      out.writeLong(e.userId); out.writeUTF(e.eventType)
      out.writeDouble(e.value)
    }
  }
}

/** Generated curation corpus: documents (doc_id < `benchDocs` are the
  * benchmark set the decontamination step screens against) and
  * embeddings, with the planted cases recorded. */
final case class Corpus(docs: Array[(Long, String)],
    vectors: Array[(Long, Array[Float])],
    exactDupPairs: Array[(Long, Long)], nearDupPairs: Array[(Long, Long)],
    contaminatedIds: Array[Long], nearVecPairs: Array[(Long, Long)])

final case class CorpusSpec(docs: Int, benchDocs: Int, exactDups: Int,
    nearDups: Int, contaminated: Int, vectors: Int, dims: Int,
    nearVecs: Int, clusters: Int) {
  def describe: String =
    s"docs=$docs bench=$benchDocs exact_dups=$exactDups near_dups=$nearDups " +
      s"contaminated=$contaminated vectors=${vectors}x$dims near_vecs=$nearVecs"
}

object CorpusGen {
  private val stop = Array("the", "and", "of", "to", "a", "in", "is", "it",
    "for", "on")
  private val syll = Array("ka", "lo", "mi", "ren", "tor", "sa", "vel",
    "dun", "pri", "es", "mo", "tal", "qui", "bra", "nel", "fo")

  private def word(rnd: SplittableRandom): String = {
    val n = 2 + rnd.nextInt(2)
    val sb = new StringBuilder
    var i = 0
    while (i < n) { sb.append(syll(rnd.nextInt(syll.length))); i += 1 }
    sb.toString
  }

  /** A document that passes the quality gate: 30-60 words, ~30 %
    * stopwords, no digits, mean word length 3-10. */
  private def text(rnd: SplittableRandom): Array[String] = {
    val n = 30 + rnd.nextInt(31)
    Array.fill(n)(
      if (rnd.nextDouble() < 0.3) stop(rnd.nextInt(stop.length))
      else word(rnd))
  }

  def generate(spec: CorpusSpec, seed: Long): Corpus = {
    val rnd = new SplittableRandom(seed * 0xBF58476D1CE4E5B9L + 101)
    val words = Array.fill(spec.docs)(text(rnd))
    val base = spec.benchDocs
    // planted copies go to the tail; their sources come from the body,
    // which is contaminated first so a copy stays a copy
    val body = spec.docs - spec.exactDups - spec.nearDups
    val src = () => base + rnd.nextInt(body - base)
    val contaminated = (0 until spec.contaminated).map { _ =>
      val bench = words(rnd.nextInt(base))
      val d = src()
      val w = words(d).clone()
      val len = 8
      System.arraycopy(bench, rnd.nextInt(bench.length - len), w,
        rnd.nextInt(w.length - len), len)
      words(d) = w; d.toLong
    }
    val exact = (0 until spec.exactDups).map { k =>
      val (s, d) = (src(), body + k)
      words(d) = words(s).clone(); (s.toLong, d.toLong)
    }
    val near = (0 until spec.nearDups).map { k =>
      val (s, d) = (src(), body + spec.exactDups + k)
      val w = words(s).clone()
      w(rnd.nextInt(w.length)) = word(rnd)
      words(d) = w; (s.toLong, d.toLong)
    }
    val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, w.mkString(" ")) }
    // embeddings: gaussian clusters, near-duplicates planted as copies
    // plus small noise
    val centers = Array.fill(spec.clusters, spec.dims)(rnd.nextGaussian())
    val vecs = Array.tabulate(spec.vectors) { i =>
      val c = centers(rnd.nextInt(spec.clusters))
      (i.toLong, Array.tabulate(spec.dims)(j =>
        (c(j) * 0.6 + rnd.nextGaussian()).toFloat))
    }
    val nearVecs = (0 until spec.nearVecs).map { k =>
      val dst = spec.vectors - 1 - k
      val src = rnd.nextInt(spec.vectors - spec.nearVecs)
      vecs(dst) = (dst.toLong, vecs(src)._2.map(x =>
        (x + rnd.nextGaussian() * 0.01).toFloat))
      (src.toLong, dst.toLong)
    }
    Corpus(docs, vecs, exact.toArray, near.toArray,
      contaminated.distinct.sorted.toArray, nearVecs.toArray)
  }

  def docsDF(spark: SparkSession, c: Corpus): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(c.docs.toSeq, 4).toDF("doc_id", "text")
  }

  def vectorsDF(spark: SparkSession, c: Corpus): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(c.vectors.map { case (i, v) =>
      (i, v.toSeq) }.toSeq, 4).toDF("vec_id", "embedding")
  }

  def digest(c: Corpus): String = Digest.of { out =>
    c.docs.foreach { case (i, t) => out.writeLong(i); out.writeUTF(t) }
    c.vectors.foreach { case (i, v) =>
      out.writeLong(i); v.foreach(x => out.writeFloat(x)) }
    c.contaminatedIds.foreach(out.writeLong)
    Seq(c.exactDupPairs, c.nearDupPairs, c.nearVecPairs).foreach(_.foreach {
      case (a, b) => out.writeLong(a); out.writeLong(b) })
  }
}

object Digest {
  def of(write: DataOutputStream => Unit): String = {
    val buf = new ByteArrayOutputStream()
    val out = new DataOutputStream(buf)
    write(out)
    out.flush()
    MessageDigest.getInstance("SHA-256").digest(buf.toByteArray)
      .map(b => f"$b%02x").mkString
  }
}
