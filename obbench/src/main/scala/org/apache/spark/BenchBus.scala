package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Listener-bus access for the benchmark: engine counters are read only
  * after every event posted so far has been delivered. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Names of the physical operators whose RDDs a stage runs (the RDD
    * operation scopes, e.g. `FlatMapGroups`). */
  def operators(info: StageInfo): Seq[String] =
    info.rddInfos.flatMap(_.scope.map(_.name)).toSeq
}
