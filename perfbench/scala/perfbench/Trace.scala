package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder. A span is one call into a layer, made from
  * the benchmark's own code: name, start, end, the span that caused it,
  * and the id of the request (query, pass or tick) it belongs to. Spans
  * stay in memory until the run writes them out at exit. When tracing
  * is off, or outside the measured window, every call is a plain
  * pass-through.
  */
final class Trace(traced: Boolean, onBoundary: () => Unit, jobCount: () => Long) {

  /** Set for the measured window only: set-up and checks record nothing. */
  var active = false
  def enabled: Boolean = traced && active

  final case class Span(id: Int, parent: Int, request: String, name: String,
                        startNs: Long, endNs: Long, jobs: Long)

  val spans = ArrayBuffer[Span]()
  private var open: List[Int] = Nil
  private var request = ""
  private var nextId = 0

  /** Epoch-ms clock aligned to `System.nanoTime`, for listener timestamps. */
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  def nanosOfEpochMs(ms: Long): Long = originNs + (ms - originMs) * 1000000L

  def currentParent: Int = open.headOption.getOrElse(-1)

  /** A root span: the request id is set for every span below it. */
  def request[T](id: String, name: String)(body: => T): T = {
    val outer = request
    request = id
    try span(name)(body) finally request = outer
  }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    onBoundary()
    val id = nextId; nextId += 1
    val parent = currentParent
    val req = request
    val j0 = jobCount()
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      onBoundary()
      spans += Span(id, parent, req, name, t0, t1, jobCount() - j0)
      lastClosed = id
    }
  }

  /** A span whose interval was observed elsewhere (listener events). */
  def add(name: String, parent: Int, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      spans += Span(nextId, parent, request, name, startNs, endNs, 0L)
      nextId += 1
    }

  /** Id of the span that closed most recently, to hang observed children on. */
  var lastClosed: Int = -1
}
