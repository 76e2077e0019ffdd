package graftbench

import java.io.File
import java.util.Locale

/** JSON output with locale-independent numbers. `Double.toString` never
  * uses a locale's decimal comma; fixed-width text goes through
  * [[Json.fmt]], which pins `Locale.ROOT`.
  */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append("\\u%04x".formatLocal(Locale.ROOT, c.toInt))
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def fmt(pattern: String, args: Any*): String = pattern.formatLocal(Locale.ROOT, args: _*)

  /** Renders Scala values: String, numbers, Boolean, Seq, Map (keys as strings), Option. */
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Fs {
  def deleteTree(f: File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteTree)
    f.delete(): Unit
  }

  /** (bytes, data files) under `f`, ignoring checksum and marker files. */
  def usage(f: File): (Long, Int) =
    if (!f.exists()) (0L, 0)
    else if (f.isFile) {
      val n = f.getName
      if (n.startsWith(".") || n.startsWith("_")) (0L, 0) else (f.length(), 1)
    } else f.listFiles().map(usage).foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
}
