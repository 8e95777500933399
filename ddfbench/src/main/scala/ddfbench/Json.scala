package ddfbench

import org.apache.spark.sql.Row

/** A minimal JSON writer for the raw results the harness reads. */
object Json {
  /** Text that is already JSON. */
  final case class Raw(text: String)

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** Driver-side results of library calls: numbers keep every digit (the
    * harness rounds them before hashing), records become arrays.
    */
  def value(v: Any): String = v match {
    case null => "null"
    case Raw(t) => t
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => value(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case r: Row => value(r.toSeq)
    case a: Array[_] => value(a.toSeq)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case p: Product => value(p.productIterator.toSeq)
    case other => str(other.toString)
  }
}
