package pfsabench

import scala.util.Using

/** Host taint and process readings. A run or call taken during a steal
  * burst on a shared host identifies itself by its steal share; loadavg
  * cannot see steal, so both are kept. Readings are "unavailable" / -1 off
  * Linux. */
object Host {

  def loadavg(): String =
    try Using.resource(scala.io.Source.fromFile("/proc/loadavg"))(_.mkString.trim)
    catch { case _: Exception => "unavailable" }

  /** Cumulative (busy, steal) jiffies from the "cpu" line of /proc/stat:
    * user nice system idle iowait irq softirq steal … */
  def jiffies(): (Long, Long) =
    try {
      val cols = Using.resource(scala.io.Source.fromFile("/proc/stat"))(_.getLines().next())
        .trim.split("\\s+").drop(1).map(_.toLong)
      (cols.take(3).sum + cols.slice(5, 7).sum, if (cols.length > 7) cols(7) else 0L)
    } catch { case _: Exception => (-1L, -1L) }

  /** Steal as a percentage of busy + steal jiffies between two readings. */
  def stealPct(a: (Long, Long), b: (Long, Long)): Double = {
    val busy = b._1 - a._1
    val steal = b._2 - a._2
    if (a._1 < 0 || busy + steal <= 0) 0.0 else 100.0 * steal / (busy + steal)
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    try Using.resource(scala.io.Source.fromFile("/proc/self/status")) { src =>
      src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    } catch { case _: Exception => -1.0 }
}

/** Minimal JSON rendering for the result line and files (maps keep
  * insertion order; non-finite doubles become null). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.result()
  }

  /** Ordered map literal. */
  def obj(kv: (String, Any)*): scala.collection.mutable.LinkedHashMap[String, Any] =
    scala.collection.mutable.LinkedHashMap(kv: _*)
}
