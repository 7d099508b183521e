package perfbench

/** Minimal JSON writer for the benchmark's records: objects are maps
  * (a `ListMap` keeps key order), doubles are written with
  * every digit `Double.toString` gives, non-finite numbers become null. */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    emit(v, sb)
    sb.toString
  }

  private def emit(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => emit(x, sb)
    case s: String => quote(s, sb)
    case b: Boolean => sb ++= b.toString
    case d: Double =>
      sb ++= (if (d.isNaN || d.isInfinite) "null"
              else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
              else d.toString)
    case n: Int => sb ++= n.toString
    case n: Long => sb ++= n.toString
    case m: scala.collection.Map[_, _] => obj(m.toSeq, sb)
    case s: Iterable[_] =>
      sb += '['
      var first = true
      s.foreach { x => if (!first) sb += ','; first = false; emit(x, sb) }
      sb += ']'
    case other => quote(other.toString, sb)
  }

  private def obj(kvs: Seq[(Any, Any)], sb: StringBuilder): Unit = {
    sb += '{'
    var first = true
    kvs.foreach { case (k, x) =>
      if (!first) sb += ','
      first = false
      quote(k.toString, sb)
      sb += ':'
      emit(x, sb)
    }
    sb += '}'
  }

  private def quote(s: String, sb: StringBuilder): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
