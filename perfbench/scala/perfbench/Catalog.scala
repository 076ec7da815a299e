package perfbench

import graft.{CacheScope, QueryDef, SparkEntry}
import graft.plans.ScanCensus
import org.apache.spark.sql.{DataFrame, Row}

import scala.util.hashing.MurmurHash3

/** `catalog_sf01`: the analyst's workload. One closed-loop client runs
  * the given catalogue queries over the scale-factor directory, each pass
  * in its own order drawn from the run's seed (so no one neighbour order
  * decides a query's times), each materialised with a `noop` write and
  * followed by `CacheScope.drain()` (the engine's own bench kernel does
  * the same). Set-up is a session start plus one warm-up query; a first
  * untimed pass collects every query's output for the correctness check
  * and takes the cold-start cost, a second untimed pass runs them as
  * timed, and the timed passes follow.
  */
object Catalog {

  def run(r: Run, dataDir: String, queries: Seq[String]): Unit = {
    val defs: Map[String, QueryDef] = SparkEntry.defs.map(d => d.name -> d).toMap
    val unknown = queries.filterNot(defs.contains)
    require(unknown.isEmpty, s"unknown catalogue queries: ${unknown.mkString(",")}")
    def order(pass: Int) = new scala.util.Random(r.seed * 1000003L + pass).shuffle(queries.sorted)
    val warmUp = queries.min

    r.setUp(setups = 3) { spark =>
      try defs(warmUp).build(spark, dataDir).write.format("noop").mode("overwrite").save()
      finally CacheScope.drain()
    }

    for (name <- order(-2))
      r.op("check", name) {
        val rows = try defs(name).build(r.spark, dataDir).collect() finally CacheScope.drain()
        r.results(name) = s"${rows.length}:${orderFreeHash(rows)}"
      }

    // one untimed noop pass: the collect pass leaves the JIT still warming
    r.untimed(order(-1).filter(r.results.contains).foreach(name => execute(r, defs(name), dataDir)))

    // at least three timed passes: the JIT is still warming through the
    // first, so a run with fewer passes would weigh it more
    r.measure(minCycles = 3) { pass =>
      r.op("batch", "catalog_pass") {
        for (name <- order(pass)) {
          var df: DataFrame = null
          r.trace.request(s"$name#$pass", "catalog.query") {
            r.op("query", name) { df = execute(r, defs(name), dataDir) }
          }
          if (r.traced && df != null) {
            val scans = ScanCensus.tableScans(df).values.sum.toDouble
            r.counters("plans.scans") = r.counters.getOrElse("plans.scans", 0.0) + scans
          }
        }
      }
    }
  }

  /** One query: build, materialise, drain; spans at each layer call. */
  private def execute(r: Run, q: QueryDef, dataDir: String): DataFrame = {
    val t = r.trace
    val df = t.span("operators.build") { q.build(r.spark, dataDir) }
    if (t.enabled) {
      // a Dataset is analysed when it is made, so the built one's own
      // tracker holds the analysis that ran inside the build span
      for (p <- df.queryExecution.tracker.phases.get("analysis"))
        t.add("planning.analysis", t.lastClosed,
          t.nanosOfEpochMs(p.startTimeMs), t.nanosOfEpochMs(p.endTimeMs))
    }
    r.probe.phases.clear()
    t.span("execution") { df.write.format("noop").mode("overwrite").save() }
    if (t.enabled) {
      val exec = t.lastClosed
      r.drain()
      // the write's own query executions report their planning phases
      r.probe.phases.forEach { phases =>
        for ((phase, (s, e)) <- phases)
          t.add(s"planning.$phase", exec, t.nanosOfEpochMs(s), t.nanosOfEpochMs(e))
      }
      cacheUse(r)
    }
    t.span("CacheScope.drain") { CacheScope.drain() }
    df
  }

  /** Cached relations alive before the drain, and their size. */
  private def cacheUse(r: Run): Unit = {
    val cached = r.spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    val mb = cached.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
    r.counters("cache.relations") = r.counters.getOrElse("cache.relations", 0.0) + cached.length
    r.counters("cache.mb_peak") = math.max(r.counters.getOrElse("cache.mb_peak", 0.0), mb)
  }

  /** Sum of per-row 64-bit hashes: equal for equal row multisets in any order. */
  def orderFreeHash(rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach { row =>
      val s = row.toString
      sum += (MurmurHash3.stringHash(s, 17).toLong << 32) ^ (MurmurHash3.stringHash(s, 91) & 0xFFFFFFFFL)
    }
    f"$sum%016x"
  }
}
