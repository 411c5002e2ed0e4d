package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** One timed interval. `parent` is -1 when the parent is resolved later
  * from `attrs` (job group, stage→job) or by time containment. */
final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
                 val t0: Double, var t1: Double) {
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  def set(kv: (String, Any)*): Span = { attrs ++= kv; this }
}

/** In-memory span store: the harness's own spans (run, setup, pass,
  * query, build, plan, execute, hygiene, leg, probe, read) are always
  * kept; the listener spans (job, stage, qe, trigger) are added by
  * [[Recorder]]. Everything is written out once, at the end. */
final class Tracer {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0

  def add(kind: String, name: String, parent: Int, t0: Double, t1: Double): Span =
    synchronized {
      val s = new Span(nextId, parent, kind, name, t0, t1)
      nextId += 1
      spans += s
      s
    }

  /** Times `body` as a span; the span is returned closed even if `body` throws. */
  def timed[A](kind: String, name: String, parent: Int)(body: Span => A): (A, Span) = {
    val s = add(kind, name, parent, Clock.ms, Double.NaN)
    try (body(s), s) finally s.t1 = Clock.ms
  }

  def all: Seq[Span] = synchronized(spans.toList)

  def records: Seq[scala.collection.Map[String, Any]] = all.map { s =>
    mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
      "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1) ++ s.attrs
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
