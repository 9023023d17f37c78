package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The two Spark internals the tracer needs, reachable only from inside
  * the `org.apache.spark` package. */
object Internals {

  /** Block until every event posted so far has reached every listener,
    * so that a span's jobs are counted before the span is closed. */
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Names of the RDDs a stage computes with the operator scopes they
    * were made in, such as "FileScanRDD Scan parquet ". */
  def scans(stage: StageInfo): Seq[String] =
    stage.rddInfos.map(r => r.name + r.scope.fold("")(" " + _.name))
}
