package perfbench

import java.nio.file.{Files, Path}

/** Minimal JSON writing for the result line and the trace file. */
object Json {
  final case class Raw(s: String)

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

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => value(a.toSeq)
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

object Fs {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}

object Stats {
  /** nearest-rank percentile (q in 0..1); NaN for an empty sample */
  def pct(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }
  def p50(xs: Iterable[Double]): Double = pct(xs, 0.5)
  def p99(xs: Iterable[Double]): Double = pct(xs, 0.99)
  def orZero(d: Double): Double = if (d.isNaN) 0.0 else d
}

object Metrics {
  /** the JVM's peak resident set (VmHWM), MB */
  def peakRssMb(): Double = {
    val status = Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
    val line = status.toArray(Array.empty[String]).find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** The end-to-end metrics, the same names on every workload. */
  def endToEnd(w: Workload, setups: Seq[Double], rssMb: Double): Map[String, (Double, String)] =
    Map(
      "setup_s" -> (Stats.p50(setups) -> "s"),
      "op_p50_ms" -> (Stats.p50(w.opsMs) -> "ms"),
      "op_p99_ms" -> (Stats.p99(w.opsMs) -> "ms"),
      "peak_rss_mb" -> (rssMb -> "MB"))
}
