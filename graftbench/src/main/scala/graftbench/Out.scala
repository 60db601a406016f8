package graftbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

/** JSON-lines record sink. The harness only records raw facts (times,
  * counts, checksums); every derived number is computed by the Python
  * side (stats.py), where its arithmetic is unit-tested. */
final class Out(path: String) {
  private val w = new BufferedWriter(new OutputStreamWriter(
    new FileOutputStream(path), StandardCharsets.UTF_8))

  def emit(kind: String, fields: (String, Any)*): Unit = synchronized {
    w.write(Out.obj(("type" -> kind) +: fields))
    w.write('\n')
  }

  def close(): Unit = synchronized(w.close())
}

object Out {
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
}
