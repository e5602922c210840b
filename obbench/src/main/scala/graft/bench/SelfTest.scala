package graft.bench

/** Generator determinism test: for every workload, the same seed gives
  * byte-identical inputs and a different seed gives different ones.
  * Exits nonzero on a failure. Run with `python3 obbench/run.py
  * --selftest`. */
object SelfTest {
  private def flows(seed: Long): Seq[(String, String)] = {
    val ingest = new Ingest
    val mids = Array(150.0, 150.0, 150.0)
    val hist = OrderFlow.generate(ingest.history, seed, mids = mids)
    val batch = OrderFlow.generate(ingest.batchSpec(0), seed * 7919 + 1,
      firstEventId = ingest.history.events, mids = mids)
    Seq(
      "book_queries" -> OrderFlow.digest(OrderFlow.generate((new BookQueries).spec, seed).toSeq),
      "history_replay" -> OrderFlow.digest(OrderFlow.generate((new HistoryReplay).spec, seed).toSeq),
      "ingest" -> OrderFlow.digest((hist ++ batch).toSeq),
      "curate" -> CorpusGen.digest(CorpusGen.generate(CurateJobs.Spec, seed)))
  }

  def main(args: Array[String]): Unit = {
    var failures = 0
    Seq(1L, 42L).foreach { seed =>
      val a = flows(seed)
      val b = flows(seed)
      val c = flows(seed + 1)
      a.zip(b).zip(c).foreach { case (((w, x), (_, y)), (_, z)) =>
        val same = x == y
        val differs = x != z
        println(f"$w%-15s seed=$seed%-3d same-seed-identical=$same other-seed-differs=$differs $x")
        if (!same || !differs) failures += 1
      }
    }
    // the planted cases are where the generator says they are
    val cs = CurateJobs.Spec
    val corpus = CorpusGen.generate(cs, 7L)
    val text = corpus.docs.toMap
    val planted = corpus.exactDupPairs.forall { case (s, d) => text(s) == text(d) && s < d }
    println(s"curate exact duplicates are byte copies of earlier docs: $planted")
    if (!planted) failures += 1
    println(if (failures == 0) "selftest passed" else s"selftest FAILED ($failures)")
    System.exit(if (failures == 0) 0 else 1)
  }
}
