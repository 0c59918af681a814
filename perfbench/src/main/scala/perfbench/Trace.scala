package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

/** One recorded interval. `parent` is the id of the enclosing span, -1 at
  * the top; `counts` are the counts measured at the span's boundary.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
                      counts: Map[String, Double]) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for one run; every span carries the run id.
  * Spans are recorded only in the benchmark's own code, around calls into
  * the program. Disabled, `span` runs its body and records nothing.
  */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private final class Open(val id: Int, val name: String, val start: Long) {
    val counts = mutable.LinkedHashMap.empty[String, Double]
  }
  private var stack: List[Open] = Nil
  private var nextId = 0
  private val t0 = System.nanoTime()
  // maps epoch milliseconds (Spark listener event times) onto nanoTime
  private val epochToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val open = new Open(nextId, name, System.nanoTime())
      nextId += 1
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      stack = open :: stack
      try body
      finally {
        stack = stack.tail
        done += Span(open.id, parent, name, open.start, System.nanoTime(), open.counts.toMap)
      }
    }

  /** Records a count on the innermost open span. */
  def count(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(_.counts(key) = value)

  /** Adds an interval observed outside the benchmark thread (epoch ms, as
    * Spark's listener reports jobs) under the innermost closed span that
    * contains it; the millisecond clock gets 1 ms of slack and is clipped
    * to the parent.
    */
  def addObserved(name: String, startMs: Long, endMs: Long, counts: Map[String, Double]): Unit =
    if (enabled) {
      val s = startMs * 1000000L + epochToNano
      val e = endMs * 1000000L + epochToNano
      val slack = 1000000L
      val parent = done.filter(p => p.startNs - slack <= s && e <= p.endNs + slack).minByOption(_.durNs)
      val (ps, pe) = parent.map(p => (p.startNs, p.endNs)).getOrElse((s, e))
      done += Span(nextId, parent.map(_.id).getOrElse(-1), name,
        math.max(s, ps), math.max(math.max(s, ps), math.min(e, pe)), counts)
      nextId += 1
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  /** Self time of every span: its duration minus what its children cover. */
  def selfNs: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> Stats.uncovered(s.startNs, s.endNs,
        kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
    }.toMap
  }

  /** Per span name: (spans, median duration s, median self s). */
  def summary: Seq[(String, Int, Double, Double)] = {
    val self = selfNs
    spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.size, Stats.median(ss.map(_.durNs / 1e9)), Stats.median(ss.map(s => self(s.id) / 1e9)))
    }.sortBy(_._1)
  }

  /** Writes the spans as JSON lines: one object per span. */
  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val self = selfNs
    val w = new PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      val counts = s.counts.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
      w.println(s"""{"run_id":${Json.str(runId)},"id":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"start_s":${Json.num((s.startNs - t0) / 1e9)},""" +
        s""""end_s":${Json.num((s.endNs - t0) / 1e9)},"self_s":${Json.num(self(s.id) / 1e9)},""" +
        s""""counts":$counts}""")
    } finally w.close()
  }
}

/** Minimal JSON writing for the report (numbers keep all their digits). */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
