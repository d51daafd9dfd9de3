package graftbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Latency summary: the median, and the highest percentile that still
  * has at least ten samples beyond it (absent when there are fewer than
  * eleven samples), with the sample count.
  */
object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** (percentile, value) of the highest nearest-rank percentile with
    * at least `beyond` samples above it; None when that percentile would
    * not be above the median.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val s = xs.sorted
    val k = s.size - 1 - beyond
    val p = 100.0 * (k + 1) / s.size
    if (k < 0 || p <= 50) None else Some((p, s(k)))
  }
}

/** What one run reports: metrics with units, plus free-form facts about
  * the inputs and the set-up.
  */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Counts one checked operation; `ok` false records it as failed. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 50) failures += what }
    ok
  }

  def latency(prefix: String, ms: Seq[Double]): Unit = {
    metric(s"${prefix}_p50_ms", Stats.median(ms), "ms")
    info(s"${prefix}_samples") = ms.size
    Stats.tail(ms) match {
      case Some((p, v)) =>
        metric(s"${prefix}_tail_ms", v, "ms")
        info(s"${prefix}_tail_percentile") = p
      case None => info(s"${prefix}_tail_ms") = s"n/a: ${ms.size} samples; a tail above the median needs at least 22"
    }
  }

  def toJson: String = Json.obj(Seq(
    "attempted" -> attempted,
    "failed" -> failed,
    "failures" -> failures.toSeq,
    "metrics" -> ListMap.from(metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }),
    "info" -> ListMap.from(info),
  ))
}

/** Minimal JSON writer for the report and the span file (maps keep
  * their iteration order; use a ListMap where order matters).
  */
object Json {
  def obj(kvs: Seq[(String, Any)]): String = kvs.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\t' => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}
