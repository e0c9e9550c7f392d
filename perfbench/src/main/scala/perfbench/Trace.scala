package perfbench

import scala.collection.mutable

/** One timed call into a layer. `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded around the benchmark's calls into the engine. Kept in
  * memory and written when the run ends; a disabled tracer only runs the
  * body and records nothing. All calls come from the main thread. */
final class Tracer(var enabled: Boolean, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Self time per span: its duration minus the time its children cover
    * (children of one parent never overlap, as calls are sequential). */
  def selfSeconds: Map[Int, Double] = {
    val child = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map(s => s.id -> (s.seconds - child.getOrElse(s.id, 0.0))).toMap
  }

  /** Self seconds summed per span name. */
  def selfByName: Map[String, Double] = {
    val self = selfSeconds
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }

  def toJson: String = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    Json.obj(Seq(
      "run_id" -> Json.str(runId),
      "spans" -> spans.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_s" -> Json.num((s.startNs - t0) / 1e9), "end_s" -> Json.num((s.endNs - t0) / 1e9)
      ))).mkString("[", ",", "]")))
  }
}

/** Minimal JSON writer: every emitted string goes through [[str]]. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' || c == '\u2028' || c == '\u2029' || c.isSurrogate => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
