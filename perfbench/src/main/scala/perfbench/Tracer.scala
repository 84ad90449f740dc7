package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval around a call into a layer. `counters` holds the
  * Spark listener deltas observed while the span was open. */
final case class Span(id: Int, name: String, traceId: Int, parent: Option[Int],
    startNs: Long, endNs: Long, counters: Map[String, Double] = Map.empty) {
  def durationNs: Long = endNs - startNs
}

/** In-memory span recorder. Spans nest by call structure: a span opened
  * while another is open becomes its child. */
final class Tracer(probe: () => Map[String, Double] = () => Map.empty) {
  private val recorded = ArrayBuffer[Span]()
  private var open: List[Int] = Nil
  private var nextId = 0
  private var currentTrace = 0

  def spans: Seq[Span] = recorded.toSeq

  /** Start a new trace: spans opened from now on share its id. */
  def newTrace(): Int = { currentTrace += 1; currentTrace }

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption
    open = id :: open
    val before = probe()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val after = probe()
      open = open.tail
      val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
      recorded += Span(id, name, currentTrace, parent, t0, t1, delta)
    }
  }

  def children(s: Span): Seq[Span] = recorded.filter(_.parent.contains(s.id)).toSeq

  def selfNs(s: Span): Long =
    Tracer.selfTime(s.startNs, s.endNs, children(s).map(c => (c.startNs, c.endNs)))

  /** Sum of durations (`self` = self time) of the spans named `name`,
    * in seconds; 0 when there is none. */
  def seconds(name: String, self: Boolean = false): Double =
    recorded.filter(_.name == name)
      .map(s => if (self) selfNs(s) else s.durationNs).sum / 1e9

  /** One JSON object per span, in start order. */
  def toJsonLines: Seq[String] = recorded.sortBy(_.startNs).map { s =>
    val cs = s.counters.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + Json.num(v) }.mkString("{", ",", "}")
    s"""{"id":${s.id},"name":${Json.str(s.name)},"trace":${s.traceId},""" +
      s""""parent":${s.parent.map(_.toString).getOrElse("null")},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${selfNs(s)},"counters":$cs}"""
  }.toSeq
}

object Tracer {

  /** Self time of a span: its duration minus the part of its interval
    * that the union of its children's intervals covers. Children may
    * overlap each other or stick out of the parent; each instant of the
    * parent is subtracted at most once. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) covered += curB - curA
    (end - start) - covered
  }
}
