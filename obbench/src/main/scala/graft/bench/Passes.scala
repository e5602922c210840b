package graft.bench

import scala.collection.mutable

/** A batch job: `run` returns its output's digest (rows, checksum), or
  * [[Job.Failed]] when the output fails the job's own check. `work` is
  * the job's input rows, the unit of batch throughput; `layer` names the
  * job's root span. */
final case class Job(name: String, layer: String, work: Double,
    run: () => (Long, Long))

object Job {
  val Failed: (Long, Long) = (-1L, -1L)
}

/** One client running whole passes over a job set. The first pass is
  * the warm-up and gives every job's reference answer; each later pass
  * must repeat it. */
object Passes {
  /** The first pass, on three threads; jobs whose output fails their own
    * check count as failed checks. Returns every digest by job name. */
  def first(jobs: Seq[Job], checks: Checks): Map[String, (Long, Long)] = {
    val got = jobs.map(_.name).zip(Par(3)(jobs.map(j => () => j.run()))).toMap
    jobs.foreach(j => checks(s"${j.name} output passes its check") { got(j.name) != Job.Failed })
    got
  }

  /** Passes until the time is up; a pass starts only if it should end in
    * time. Latency is per job; throughput is the work of the passes ÷
    * their wall time. */
  def loop(ctx: Ctx, jobs: Seq[Job], expected: Map[String, (Long, Long)],
      seconds: Double): Phase = {
    val tr = ctx.tracer
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val lats = mutable.ArrayBuffer.empty[Long]
    val passNs = mutable.ArrayBuffer.empty[Long]
    var failed = 0L
    var work = 0.0
    var out = 0L
    while (passNs.isEmpty || System.nanoTime() + passNs.last * 9 / 10 < deadline) {
      val p0 = System.nanoTime()
      jobs.foreach { j =>
        val s = System.nanoTime()
        val got = try Some(tr.root(j.layer)(j.run())) catch { case e: Throwable =>
          System.err.println(s"job ${j.name} failed: $e"); None }
        val ok = got.contains(expected(j.name)) && !got.contains(Job.Failed)
        if (!ok) {
          failed += 1
          got.foreach(g => System.err.println(s"job ${j.name} answered $g, expected ${expected(j.name)}"))
        }
        if (ok) { work += j.work; out += got.get._1 }
        lats += (if (ok) System.nanoTime() - s else Long.MaxValue)
      }
      passNs += System.nanoTime() - p0
    }
    Phase(lats.size.toLong, failed, lats.toArray, passNs.sum, work, out)
  }
}
