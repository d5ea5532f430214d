package graftbench

import java.util.Locale

/** Minimal JSON writer for the harness's result file. Numbers are written
  * with `Locale.ROOT`, so a JVM running under a comma-decimal default
  * locale still emits valid JSON.
  */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else String.format(Locale.ROOT, "%.9f", java.lang.Double.valueOf(d))
      .replaceAll("0+$", "").replaceAll("\\.$", ".0")

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => String.format(Locale.ROOT, "\\u%04x", Integer.valueOf(c.toInt))
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
