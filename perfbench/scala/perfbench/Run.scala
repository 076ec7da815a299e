package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.graft.SparkStateProbe

import scala.collection.mutable.ArrayBuffer

/** State and raw results of one benchmark run. Workloads append timed
  * operations, output checks and per-layer counters; [[json]] writes
  * them raw, and the Python front end (`run.py`) turns them into the
  * reported metrics.
  */
final class Run(val workload: String, val seed: Long, val seconds: Double,
                val traced: Boolean, val cores: Int, val workDir: String) {

  /** One timed operation: a read request ("query") or a unit of batch work ("batch"). */
  final case class Op(kind: String, name: String, sec: Double, ok: Boolean, error: String)
  final case class Check(name: String, ok: Boolean, detail: String)

  val setupSec = ArrayBuffer[Double]()
  val ops = ArrayBuffer[Op]()
  val checks = ArrayBuffer[Check]()
  /** Catalogue query -> "rows:hash" of its collected output. */
  val results = scala.collection.mutable.LinkedHashMap[String, String]()
  /** Per-layer counters of the measured window (only filled when traced). */
  val counters = scala.collection.mutable.LinkedHashMap[String, Double]()
  var windowSec = 0.0
  var cycles = 0

  val probe = new Probe
  private var session: SparkSession = _
  def spark: SparkSession = session
  /** Spans drain the listener bus at each boundary, so the job count they read is exact. */
  val trace = new Trace(traced, () => drain(), () => probe.jobsSoFar)

  def startSession(): SparkSession = {
    session = graft.GraftSession.local(cores, appName = s"perfbench-$workload")
    if (traced) probe.attach(session)
    session
  }

  def stopSession(): Unit = if (session != null) { session.stop(); session = null }

  def drain(): Unit = if (session != null) SparkStateProbe.drainListenerBus(session.sparkContext)

  private var settingUp = false

  /** Run `body` as one operation; a throw is recorded as a failed operation.
    * During set-up the body just runs, and a throw fails the run.
    */
  def op(kind: String, name: String)(body: => Unit): Boolean = {
    if (settingUp) { body; return true }
    val t0 = System.nanoTime()
    val err = try { body; "" } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
    ops += Op(kind, name, (System.nanoTime() - t0) / 1e9, err.isEmpty, err)
    err.isEmpty
  }

  def check(name: String, ok: Boolean, detail: => String): Unit =
    checks += Check(name, ok, if (ok) "" else detail)

  /** `setups` times: start a session and run `prepare`; the last session stays up. */
  def setUp(setups: Int)(prepare: SparkSession => Unit): Unit =
    for (i <- 1 to setups) {
      val t0 = System.nanoTime()
      settingUp = true
      try prepare(startSession()) finally settingUp = false
      setupSec += (System.nanoTime() - t0) / 1e9
      if (i < setups) stopSession()
    }

  /** Run `body` untimed, like set-up: operations are not recorded. */
  def untimed(body: => Unit): Unit = {
    settingUp = true
    try body finally settingUp = false
  }

  /** Repeat `cycle` until `seconds` have passed and at least `minCycles` ran. */
  def measure(minCycles: Int)(cycle: Int => Unit): Unit = {
    val before = if (traced) { drain(); probe.counts() } else null
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    trace.active = true
    try while (cycles < minCycles || elapsed < seconds) { cycle(cycles); cycles += 1 }
    finally trace.active = false
    windowSec = elapsed
    if (traced) { drain(); counters ++= (probe.counts() - before).values }
  }

  def json: String = {
    def s(v: String) = Json.str(v)
    def n(v: Double) = Json.num(v)
    val spanRows = trace.spans.map(p =>
      s"""{"id":${p.id},"parent":${p.parent},"request":${s(p.request)},"name":${s(p.name)},""" +
        s""""start_ns":${p.startNs},"end_ns":${p.endNs},"jobs":${p.jobs}}""")
    Seq(
      s""""workload":${s(workload)}""", s""""seed":$seed""", s""""traced":$traced""",
      s""""cores":$cores""", s""""window_s":${n(windowSec)}""", s""""cycles":$cycles""",
      s""""setup_s":${setupSec.map(n).mkString("[", ",", "]")}""",
      s""""ops":${ops.map(o => s"""{"kind":${s(o.kind)},"name":${s(o.name)},"sec":${n(o.sec)},"ok":${o.ok},"error":${s(o.error)}}""").mkString("[", ",", "]")}""",
      s""""checks":${checks.map(c => s"""{"name":${s(c.name)},"ok":${c.ok},"detail":${s(c.detail)}}""").mkString("[", ",", "]")}""",
      s""""results":${results.map { case (k, v) => s"${s(k)}:${s(v)}" }.mkString("{", ",", "}")}""",
      s""""counters":${counters.map { case (k, v) => s"${s(k)}:${n(v)}" }.mkString("{", ",", "}")}""",
      s""""spans":${spanRows.mkString("[", ",\n", "]")}"""
    ).mkString("{", ",\n", "}\n")
  }
}

object Json {
  def str(v: String): String = {
    val b = new StringBuilder("\"")
    v.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
}
