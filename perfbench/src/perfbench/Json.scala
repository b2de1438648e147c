package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Minimal JSON writer for the run's result file and span dump. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def writeFile(path: String, v: Any): Unit = Files.write(Paths.get(path), apply(v).getBytes(UTF_8))

  def writeSpans(path: String, spans: Seq[Span]): Unit =
    writeFile(path, spans.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "start_ns" -> s.start, "end_ns" -> s.end)))
}
