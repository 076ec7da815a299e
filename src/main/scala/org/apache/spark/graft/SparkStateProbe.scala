package org.apache.spark.graft

import java.io.File

import org.apache.spark.SparkContext

/** Read-only shim into `private[spark]` state the bench's
  * between-timing hygiene needs (r10 suite-state-tax fix): what is ON
  * DISK in the block-manager local dirs (leftover shuffle/spill
  * files), and a bounded drain of the async listener bus. Only the
  * package placement is ours; every accessor is one Spark's own tests
  * use.
  */
object SparkStateProbe {

  /** The block-manager scratch dirs (shuffle data/index files, spills,
    * temp blocks live under these).
    */
  def localDirs(sc: SparkContext): Seq[File] =
    sc.env.blockManager.diskBlockManager.localDirs.toSeq

  /** Block until the async listener bus has delivered everything
    * posted so far (bounded by `timeoutMs`). Task-metrics listeners
    * (the bench's per-query IO accounting) otherwise race the reader:
    * the last tasks' events can still sit on the bus when the timed
    * action returns, leaking one query's shuffle bytes into the next
    * query's regime row. Spark's own test suites use this same
    * waitUntilEmpty.
    */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: Throwable => () }

  /** (file count, total bytes) under the scratch dirs. */
  def diskUsage(sc: SparkContext): (Long, Long) = {
    var files = 0L
    var bytes = 0L
    def walk(f: File): Unit = {
      val children = f.listFiles()
      if (children != null) children.foreach { c =>
        if (c.isDirectory) walk(c)
        else { files += 1; bytes += c.length() }
      }
    }
    localDirs(sc).foreach(walk)
    (files, bytes)
  }
}
