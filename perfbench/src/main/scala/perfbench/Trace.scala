package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `trace` groups the spans of one
  * query or trigger; `parent` is the span that caused this one (0 = none).
  * Times are epoch milliseconds with sub-millisecond precision, so spans
  * from the benchmark, from Spark's listener events and from the load
  * generator process share one clock. */
final case class Span(id: Long, parent: Long, trace: String, layer: String,
                      name: String, start: Double, end: Double) {
  def ms: Double = end - start
}

/** In-memory span store. Spans are only kept when tracing is on; they are
  * written out once, when the run ends. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Times `body` as a span; runs it untraced (no allocation) when off. */
  def span[T](trace: String, layer: String, name: String, parent: Long = 0L)
             (body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = nextId()
      val t0 = Tracer.nowMs()
      try body(id)
      finally add(Span(id, parent, trace, layer, name, t0, Tracer.nowMs()))
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.start).foreach { s =>
      sb.append(Json.obj(Seq("id" -> s.id, "parent" -> s.parent,
        "trace" -> s.trace, "layer" -> s.layer, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end))).append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

object Tracer {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble

  /** Epoch milliseconds from the monotonic clock. */
  def nowMs(): Double = originMs + (System.nanoTime() - originNs) / 1e6

  /** Self time per layer over `[from, to]`: every instant goes to the
    * deepest span that covers it, and to `rootLayer` when none does, so the
    * values sum to the window length even where sibling spans overlap (two
    * stages of one job run at once). A span's parent is the one it names,
    * or else the innermost span that encloses it. The spans must come from
    * one process whose traced work runs one query or trigger at a time. */
  def selfTimes(spans: Seq[Span], from: Double, to: Double,
                rootLayer: String): Map[String, Double] = {
    val inWin = spans.filter(s => s.end > from && s.start < to)
      .map(s => s.copy(start = math.max(s.start, from), end = math.min(s.end, to)))
    val byId = inWin.map(s => s.id -> s).toMap
    // Spark's listener events carry whole milliseconds, so a job may seem
    // to start up to a millisecond before the action that ran it.
    def encloses(p: Span, c: Span): Boolean =
      p.id != c.id && p.start <= c.start + 2 && p.end >= c.end - 2 &&
        (p.ms > c.ms || p.ms == c.ms && p.id < c.id)
    val parentOf: Map[Long, Long] = inWin.map { c =>
      c.id -> byId.get(c.parent).map(_.id).getOrElse {
        inWin.iterator.filter(p => encloses(p, c)).minByOption(_.ms).map(_.id).getOrElse(0L)
      }
    }.toMap
    val depth = mutable.Map.empty[Long, Int]
    def depthOf(id: Long): Int =
      if (id == 0L) 0 else depth.getOrElseUpdate(id, 1 + depthOf(parentOf(id)))
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val edges = inWin.filter(_.ms > 0).flatMap(s => Seq((s.start, 1, s), (s.end, -1, s)))
      .sortBy(e => (e._1, e._2))
    val active = mutable.Set.empty[Span]
    var t = from
    edges.foreach { case (at, kind, s) =>
      if (at > t) {
        val layer = if (active.isEmpty) rootLayer else active.maxBy(a => depthOf(a.id)).layer
        out(layer) += at - t
        t = at
      }
      if (kind > 0) active += s else active -= s
    }
    out(rootLayer) += to - t
    out.toMap
  }

  /** Total length of a union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Minimal JSON writer for the flat records the benchmark emits. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
