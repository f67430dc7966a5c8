package graftbench

import java.util.Locale

/** Minimal JSON writer for the harness's result lines. Numbers are
  * formatted with `Locale.ROOT`, so a host locale with a decimal comma
  * cannot corrupt the output.
  */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) String.format(Locale.ROOT, "%d", Long.box(v.toLong))
    else String.format(Locale.ROOT, "%.9g", Double.box(v))

  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: Map[_, _] => obj(m.asInstanceOf[Map[String, Any]].toSeq)
    case s: Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** One result line on stdout; the runner reads lines starting with `@@ `. */
  def emit(fields: (String, Any)*): Unit = {
    System.out.println("@@ " + obj(fields))
    System.out.flush()
  }
}

/** Prints one result line of awkward numbers; the benchmark's tests run it
  * under a decimal-comma locale and parse the line back. */
object JsonProbe {
  def main(args: Array[String]): Unit =
    Json.emit("pi" -> math.Pi, "big" -> 1.5e12, "small" -> 1.25e-7,
      "neg" -> -2.5, "count" -> 42L, "whole" -> 3.0, "nan" -> Double.NaN)
}
