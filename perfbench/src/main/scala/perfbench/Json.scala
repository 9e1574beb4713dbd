package perfbench

import java.text.SimpleDateFormat
import java.util.TimeZone

/** Minimal JSON writer for the result record: maps, sequences, numbers,
  * strings, booleans, null, and the values a collected Spark Row holds
  * (timestamps and dates in a fixed UTC text form the oracle reproduces). */
object Json {
  private def fmt(p: String) = {
    val f = new SimpleDateFormat(p)
    f.setTimeZone(TimeZone.getTimeZone("UTC"))
    f
  }
  private val tsFmt = fmt("yyyy-MM-dd HH:mm:ss")
  private val dateFmt = fmt("yyyy-MM-dd")

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Short => n.toString
    case n: Byte => n.toString
    case d: java.math.BigDecimal => apply(d.doubleValue())
    case t: java.sql.Timestamp =>
      str(tsFmt.synchronized(tsFmt.format(t)) + f".${t.getNanos / 1000}%06d")
    case d: java.sql.Date => str(dateFmt.synchronized(dateFmt.format(d)))
    case t: java.time.LocalDateTime =>
      str(t.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")))
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case r: org.apache.spark.sql.Row => apply(r.toSeq)
    case a: Array[_] => apply(a.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => str(x.toString)
  }

  def write(path: String, v: Any): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.toAbsolutePath.getParent)
    java.nio.file.Files.write(p, apply(v).getBytes("UTF-8"))
  }
}
