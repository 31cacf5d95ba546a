package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Spans around the benchmark's own calls into graft, and the operation
  * log the end-to-end metrics are computed from.
  *
  * Times are epoch nanoseconds from the monotonic clock, anchored to the
  * wall clock once, so they line up with Spark listener timestamps (epoch
  * milliseconds). Spans stay in memory until the run writes its result. */
final class Recorder(val runId: String) {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def nowNs: Long = anchorMs * 1000000L + (System.nanoTime() - anchorNs)

  final class Span(val id: Int, val parent: Int, val name: String,
                   val kind: String, val start: Long) {
    var end: Long = -1L
  }

  /** One operation: an `Engine.run` job, a read, or a dedup pass. */
  final class Op(val name: String, val cycle: Int, val round: Int, val span: Span) {
    var ok = true
    var error = ""
    val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  }

  val spans = ArrayBuffer.empty[Span]
  val ops = ArrayBuffer.empty[Op]
  private var stack: List[Span] = Nil
  private var current: Option[Op] = None

  def clear(): Unit = { spans.clear(); ops.clear() }

  def span[T](name: String, kind: String = "call")(body: => T): T = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, kind, nowNs)
    spans += s
    stack = s :: stack
    try body finally { s.end = nowNs; stack = stack.tail }
  }

  /** Run one operation; a thrown error marks it failed instead of ending
    * the run, so failures are counted against the operations attempted. */
  def op(name: String, cycle: Int, round: Int = -1)(body: => Unit): Op = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, "op", nowNs)
    val o = new Op(name, cycle, round, s)
    spans += s
    ops += o
    stack = s :: stack
    current = Some(o)
    try body catch { case NonFatal(e) =>
      o.ok = false
      o.error = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
    } finally { s.end = nowNs; stack = stack.tail; current = None }
    o
  }

  /** Attach a result (a checksum, a version) to the running operation. */
  def note(key: String, value: Any): Unit = current.foreach(_.info(key) = value)

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
      "start_ns" -> s.start, "end_ns" -> s.end, "run_id" -> runId)
  }

  def opsJson: Seq[Map[String, Any]] = ops.toSeq.map { o =>
    Map("name" -> o.name, "cycle" -> o.cycle, "round" -> o.round,
      "start_ns" -> o.span.start, "end_ns" -> o.span.end,
      "ok" -> o.ok, "error" -> o.error, "info" -> o.info.toMap)
  }
}
