package perfbench

import graft.flight._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.util.LongAccumulator

import java.time.{ZoneOffset, ZonedDateTime}

/** `flight_hourly`: the reference deployment. Each cycle is one tick:
  * `FlightPipeline.run` at the hourly volume (driver-side quadtree
  * extraction, bronze CSV, silver dedup, gold enrichment), then one
  * answer request, which is what a CLI user waits for: the newest-gold
  * lookup plus the six `FlightAnswers`. Ticks are stamped an hour apart,
  * so the snapshot history grows through the run.
  */
object Flights {

  private val T0 = ZonedDateTime.of(2026, 8, 15, 0, 0, 0, 0, ZoneOffset.UTC)
  private val SettleTicks = 5

  /** Everything one cycle wrote, for the post-window checks. */
  private final case class Cycle(src: SeededFlights, bronze: String, silver: String, gold: String,
                                 q1: org.apache.spark.sql.Row)

  def hourly(r: Run, leafRows: Int): Unit = {
    val base = s"${r.workDir}/flight_hourly"
    val acc = new Accumulators
    def source(cycle: Long, a: Option[Accumulators]) =
      new SeededFlights(r.seed, depth = 1, leafRows, batch = cycle, acc = a)
    var dims: FlightPipeline = null

    r.setUp(setups = 3) { spark =>
      delete(r, base)
      dims = new FlightPipeline(spark, source(0, None), base)
      dims.airportsDf; dims.airlinesDf
      warmUp(r, source(0, None), s"${base}_warm")
    }
    // untimed ticks up to T0: after set-up the JIT still warms for
    // several cycles, and a run that times them reads slower
    r.untimed(for (i <- 1 to SettleTicks) {
      val p = new FlightPipeline(r.spark, source(-i, None), base)
      p.run(T0.minusHours(SettleTicks - i))
      answer(r, p, s"$base/gold", "settle")
    })
    acc.register(r)
    val cycles = scala.collection.mutable.ArrayBuffer[Cycle]()

    r.measure(minCycles = 6) { c =>
      val now = T0.plusHours(c + 1)
      val src = source(c, Some(acc))
      val pipeline = new FlightPipeline(r.spark, src, base)
      val t = r.trace
      var gold = ""
      val q1 = t.request(s"tick#$c", "flight.tick") {
        r.probe.sqlExecs.clear()
        t.span("flight.pipeline") {
          r.op("batch", "tick_pipeline") { gold = pipeline.run(now) }
        }
        if (t.enabled) observedLayers(r, src, base, t.lastClosed)
        answer(r, pipeline, s"$base/gold", s"answer#$c")
      }
      cycles += Cycle(src, FlightIo.timestampedPath(s"$base/bronze", now),
        FlightIo.timestampedPath(s"$base/silver", now), gold, q1)
    }
    finish(r, cycles.toSeq, acc, dims)
  }

  /** Hang the layers `FlightPipeline.run` called under its span: the
    * extraction interval the source saw, and each write's SQL execution
    * as the listener saw it, named by the medallion layer it wrote.
    */
  private def observedLayers(r: Run, src: SeededFlights, base: String, parent: Int): Unit = {
    val t = r.trace
    if (src.firstFetchNs > 0) t.add("flight.extract", parent, src.firstFetchNs, src.lastFetchNs)
    r.drain()
    val layers = Seq("bronze", "silver", "gold", "airports", "airlines")
    r.probe.sqlExecs.forEach { e =>
      for {
        out <- WriteTarget.findFirstMatchIn(e.plan).map(_.group(1))
        layer <- layers.find(l => out.contains(s"$base/$l"))
      } {
        val name = if (layer.startsWith("air")) "flight.dims" else s"flight.$layer"
        t.add(name, parent, t.nanosOfEpochMs(e.startMs), t.nanosOfEpochMs(e.endMs))
      }
    }
  }

  private val WriteTarget = "(?s)Execute InsertIntoHadoopFsRelationCommand\\s+Input: [^\\n]*\\s+Arguments: ([^,\\s]+)".r

  /** One answer request; returns Q1's row for the cross-check. */
  private def answer(r: Run, pipeline: FlightPipeline, goldBase: String, id: String): org.apache.spark.sql.Row = {
    val t = r.trace
    var q1: org.apache.spark.sql.Row = null
    t.request(id, "flight.answer") {
      r.op("query", "answer") {
        val gold = t.span("flight.io.newest") { pipeline.latestGold().get }
        q1 = t.span("flight.answers.q1") { FlightAnswers.airlineWithMostFlights(gold) }
        t.span("flight.answers.q2") { FlightAnswers.mostActiveAirlinePerContinent(gold) }
        t.span("flight.answers.q3") { FlightAnswers.flightWithLongestTrajectory(gold) }
        t.span("flight.answers.q4") { FlightAnswers.averageFlightLengthPerContinent(gold) }
        t.span("flight.answers.q5") { FlightAnswers.topThreeAircraftPerCountry(gold) }
        t.span("flight.answers.q6") { FlightAnswers.airportWithMostDiffInOutFlight(gold) }
      }
    }
    if (t.enabled) {
      val p = new Path(goldBase)
      val files = p.getFileSystem(r.spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      var n = 0.0
      while (files.hasNext) { files.next(); n += 1 }
      r.counters("flight.io.files_listed") = r.counters.getOrElse("flight.io.files_listed", 0.0) + n
    }
    q1
  }

  /** Set-up warm-up: one tick and answer request on a throwaway base. */
  private def warmUp(r: Run, src: SeededFlights, base: String): Unit = {
    val p = new FlightPipeline(r.spark, src, base)
    p.run(T0)
    answer(r, p, s"$base/gold", "warm-up")
    delete(r, base)
  }

  /** Output checks of every cycle, the gold plan gate, and the flight counters. */
  private def finish(r: Run, cycles: Seq[Cycle], acc: Accumulators, dims: FlightPipeline): Unit = {
    val spark = r.spark
    def count(path: String) = spark.read.parquet(path).count()
    var bronzeBytes, silverBytes, goldBytes, silverRows, goldRows = 0L
    for ((c, i) <- cycles.zipWithIndex if c.gold.nonEmpty) {
      val e = c.src.expected
      val (ns, ng) = (count(c.silver), count(c.gold))
      silverRows += ns; goldRows += ng
      r.check(s"silver_rows#$i", ns == e.silver, s"silver has $ns rows, generator predicts ${e.silver}")
      r.check(s"gold_rows#$i", ng == e.gold, s"gold has $ng rows, generator predicts ${e.gold}")
      val q1Ok = c.q1 != null && c.q1.getString(0) == e.hubName && c.q1.getLong(1) == e.hubFlights
      r.check(s"q1#$i", q1Ok, s"Q1 gave ${c.q1}, generator counts ${e.hubName} x ${e.hubFlights}")
      bronzeBytes += size(r, c.bronze); silverBytes += size(r, c.silver); goldBytes += size(r, c.gold)
    }
    val done = cycles.count(_.gold.nonEmpty)
    val expected = cycles.map(_.src.expected)
    r.check("extract_pages", acc.pages.value == expected.map(_.pages).sum,
      s"fetched ${acc.pages.value} pages, quadtree predicts ${expected.map(_.pages).sum}")
    r.check("extract_splits", acc.splits.value == expected.map(_.splits).sum,
      s"split ${acc.splits.value} zones, quadtree predicts ${expected.map(_.splits).sum}")

    val broadcasts = cycles.lastOption.filter(_.gold.nonEmpty).map { c =>
      val plan = FlightEtl.gold(spark.read.parquet(c.silver), dims.airportsDf, dims.airlinesDf)
        .queryExecution.executedPlan
      val text = plan.toString
      val bhj = text.linesIterator.count(_.contains("BroadcastHashJoin"))
      val silverScans = scanRoots(plan).count(_.contains("/silver/"))
      r.check("gold_plan", bhj == 3 && !text.contains("SortMergeJoin") &&
        !text.contains("NestedLoop") && !text.contains("CartesianProduct") && silverScans == 1,
        s"gold plan: $bhj broadcast joins, silver scanned $silverScans times:\n$text")
      bhj
    }.getOrElse(0)

    if (r.traced && done > 0) {
      val raw = acc.rows.value.toDouble
      val per = (v: Double) => v / done
      r.counters ++= Seq(
        "flight.extract_pages" -> per(acc.pages.value.toDouble),
        "flight.extract_splits" -> per(acc.splits.value.toDouble),
        "flight.silver_rows_dropped" -> per(raw - silverRows),
        "flight.gold_rows_dropped" -> per((silverRows - goldRows).toDouble),
        "flight.gold_broadcast_joins" -> broadcasts.toDouble,
        "flight.bronze_bytes" -> per(bronzeBytes.toDouble),
        "flight.silver_bytes" -> per(silverBytes.toDouble),
        "flight.gold_bytes" -> per(goldBytes.toDouble),
        "flight.stored_bytes_per_row" -> (bronzeBytes + silverBytes + goldBytes) / math.max(raw, 1.0))
    }
  }

  private def scanRoots(plan: SparkPlan): Seq[String] = plan match {
    case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString)
    case a: AdaptiveSparkPlanExec => scanRoots(a.inputPlan)
    case p => (p.children ++ p.subqueries).flatMap(scanRoots)
  }

  private def size(r: Run, dir: String): Long = {
    val p = new Path(dir)
    p.getFileSystem(r.spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }

  private def delete(r: Run, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(r.spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Pages fetched, pages truncated and leaf rows, over every cycle of the window. */
  final class Accumulators extends Serializable {
    val pages = new LongAccumulator
    val splits = new LongAccumulator
    val rows = new LongAccumulator
    def register(r: Run): Unit = {
      val sc = r.spark.sparkContext
      sc.register(pages, "perfbench.pages"); sc.register(splits, "perfbench.splits")
      sc.register(rows, "perfbench.rows")
    }
  }
}
