package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** The benchmark's own reach into Spark-internal state: listener
  * registration that checks before it adds (so a listener is on a
  * session at most once) and the codegen compile histogram. Only the
  * package placement makes these accessible; nothing here mutates
  * engine state. The listener-bus drain is the engine's own
  * (`SparkStateProbe.drainListenerBus`).
  */
object SparkShim {

  def addListenerOnce(sc: SparkContext, l: SparkListenerInterface): Unit =
    if (!sc.listenerBus.listeners.asScala.exists(_ eq l)) sc.addSparkListener(l)

  def addQueryListenerOnce(spark: SparkSession, l: QueryExecutionListener): Unit =
    if (!spark.listenerManager.listListeners().exists(_ eq l)) spark.listenerManager.register(l)

  /** (compilations so far, mean compile ms over the histogram's reservoir). */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }
}
