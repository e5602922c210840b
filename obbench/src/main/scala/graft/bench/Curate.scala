package graft.bench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.pipeline.{TextPipeline, VectorOps}
import graft.storage.Lake

/** Training-data curation jobs over a generated corpus with planted
  * exact duplicates, near-duplicates and benchmark-contaminated spans:
  * the full text curation pipeline, semantic dedup, and an IVF index
  * build plus a kNN probe. Each job checks its own output. */
final class CurateJobs(val spec: CorpusSpec) {
  val Cells = 16
  val K = 5
  val Probes = 2
  val Queries = 60
  val SemThreshold = 0.9
  def sizes: String = s"${spec.describe} cells=$Cells k=$K probes=$Probes queries=$Queries"

  private var spark: SparkSession = _
  private var corpus: Corpus = _
  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var queries: DataFrame = _
  private var indexPath: String = _

  def setup(ctx: Ctx): Unit = {
    spark = ctx.spark
    corpus = ctx.tracer.span("gen") { CorpusGen.generate(spec, ctx.opts.seed) }
    val dir = ctx.dir("corpus")
    CorpusGen.docsDF(spark, corpus).write.mode("overwrite").parquet(s"$dir/docs")
    CorpusGen.vectorsDF(spark, corpus).write.mode("overwrite").parquet(s"$dir/vectors")
    docs = spark.read.parquet(s"$dir/docs")
    emb = spark.read.parquet(s"$dir/vectors")
    val ss = spark
    import ss.implicits._
    queries = (0 until Queries).map(i => i.toLong * (spec.vectors / Queries)).toDF("va")
    indexPath = ctx.dir("ivf")
  }

  private def rowsDigest(rs: Array[Row]): (Long, Long) =
    (rs.length.toLong, rs.foldLeft(0L)(_ + _.hashCode))

  /** Jobs per pass, in this order: curate, semdedup, ivf. */
  val JobCount = 3

  def jobs(tr: Tracer): Seq[Job] = Seq(
    Job("curate", "curate", spec.docs, () => {
      val out = TextPipeline.curateFull(docs).collect()
      val ids = out.map(_.getAs[Long]("doc_id"))
      val dupIds = corpus.exactDupPairs.map(_._2).toSet
      val contaminated = corpus.contaminatedIds.toSet
      // every planted exact duplicate is removed; a contaminated doc that
      // survives reports its span
      val leaked = ids.count(dupIds)
      val unflagged = out.count(r => contaminated(r.getAs[Long]("doc_id")) &&
        r.getAs[Long]("dup_words") < 8)
      if (leaked > 0 || unflagged > 0) {
        System.err.println(s"curation: $leaked exact duplicates survived, " +
          s"$unflagged contaminated docs without their span")
        Job.Failed
      } else rowsDigest(out)
    }),
    Job("semdedup", "semdedup", spec.vectors, () => {
      val out = VectorOps.semDedup(emb, SemThreshold, Cells).collect()
      if (out.map(_.getAs[Long]("vec_id")).distinct.length != spec.vectors) Job.Failed
      else rowsDigest(out)
    }),
    Job("ivf", "ivf", spec.vectors, () => {
      val cents = tr.span("ivf.build") {
        val c = VectorOps.ivfTrain(emb, Cells)
        Lake.writeIvfIndex(emb, c, indexPath)
        c
      }
      val out = tr.span("ivf.probe") {
        VectorOps.knnGraphFromIndex(Lake.readIvfIndex(spark, indexPath),
          Some(queries), K, cents = Some(cents), nProbe = Probes).collect()
      }
      // the probe never returns the query itself, and at most k per query
      val selfHit = out.exists(r => r.getAs[Long]("va") == r.getAs[Long]("vb"))
      if (selfHit || out.length > K * Queries) Job.Failed
      else {
        val (n, h) = rowsDigest(out)
        (n + cents.length, h + cents.map(_.sum).sum)
      }
    }))

  def indexBytes: Long = Engine.dirBytes(indexPath)

  def layers(tr: Tracer): Map[String, Double] = {
    val sum = tr.summary
    def meanS(span: String) = sum.get(span).map { case (c, t, _) => t / 1e9 / c }.getOrElse(0.0)
    val cands = TextPipeline.minhashCandidates(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (corpus.exactDupPairs ++ corpus.nearDupPairs)
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    Map(
      "curate.s" -> meanS("curate"),
      "semdedup.s" -> meanS("semdedup"),
      "ivf.build_s" -> meanS("ivf.build"),
      "ivf.probe_s" -> meanS("ivf.probe"),
      "neardup.pairs_kept_per_candidate" ->
        (if (cands.isEmpty) 0.0 else cands.count(planted).toDouble / cands.size))
  }
}

object CurateJobs {
  /** The corpus both `curate` and `history_replay` run. */
  val Spec = CorpusSpec(docs = 400, benchDocs = 10, exactDups = 20,
    nearDups = 20, contaminated = 15, vectors = 600, dims = 32,
    nearVecs = 20, clusters = 16)
}

/** Training-data curation alone: one client runs whole passes of the
  * [[CurateJobs]]; every pass must repeat the first pass's answers. */
final class Curate extends Workload {
  val name = "curate"
  val jobsOf = new CurateJobs(CurateJobs.Spec)
  def sizes: String = s"${jobsOf.sizes} clients=1"

  private var expected: Map[String, (Long, Long)] = Map.empty

  def setup(ctx: Ctx): Unit = jobsOf.setup(ctx)

  def prepare(ctx: Ctx, checks: Checks): Unit =
    expected = Passes.first(jobsOf.jobs(ctx.tracer), checks)

  def loop(ctx: Ctx, seconds: Double): Phase =
    Passes.loop(ctx, jobsOf.jobs(ctx.tracer), expected, seconds)

  def verify(ctx: Ctx, checks: Checks): Unit = ()

  def storedBytesPerItem(ctx: Ctx): Double = jobsOf.indexBytes.toDouble / jobsOf.spec.vectors

  def named(p: Phase): Seq[(String, Double, String)] = Seq(
    ("curate_docs_per_s", p.ops.toDouble / jobsOf.JobCount * jobsOf.spec.docs / (p.wallNs / 1e9), "1/s"),
    ("job_p50_ms", Stats.pctMs(p.latNs, 0.5), "ms"),
    ("jobs", p.ops.toDouble, "count"))

  def layers(ctx: Ctx, traced: Phase): Map[String, Double] = jobsOf.layers(ctx.tracer)
}
