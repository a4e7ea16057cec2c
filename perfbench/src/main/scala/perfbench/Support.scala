package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Minimal JSON rendering for the harness's result file (numbers, strings,
  * booleans, maps and sequences). */
object Json {
  def apply(v: Any): String = v match {
    case null                 => "null"
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float             => apply(f.toDouble)
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]      => xs.map(apply).mkString("[", ",", "]")
    case o: Option[_]         => o.map(apply).getOrElse("null")
    case other                => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }
}

/** Canonical digest of a result set. `perfbench/oracle.py` renders DuckDB
  * results the same way, so equal digests mean equal results: columns in
  * name order, rows in result order, doubles by their exact bits,
  * timestamps as µs since the epoch (UTC) and dates as epoch days. */
object Digest {
  def value(v: Any): String = v match {
    case null                       => "~"
    case b: Boolean                 => if (b) "T" else "F"
    case n: Byte                    => n.toString
    case n: Short                   => n.toString
    case n: Int                     => n.toString
    case n: Long                    => n.toString
    case d: Double                  => dbl(d)
    case f: Float                   => dbl(f.toDouble)
    case s: String                  => "s" + s
    case d: java.math.BigDecimal    => "d" + d.toPlainString
    case d: scala.math.BigDecimal   => "d" + d.bigDecimal.toPlainString
    case t: java.sql.Timestamp      =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case i: java.time.Instant       => "t" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case l: java.time.LocalDateTime =>
      value(l.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date           => "D" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate     => "D" + d.toEpochDay
    case a: Array[Byte]             => "b" + a.map(x => f"$x%02x").mkString
    case r: Row                     => r.toSeq.map(value).mkString("{", "\u0003", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "=" + value(x) }.sorted.mkString("<", "\u0003", ">")
    case xs: scala.collection.Seq[_] => xs.map(value).mkString("[", "\u0003", "]")
    case other                      => "?" + other.toString
  }

  private def dbl(d: Double): String =
    if (d.isNaN) "NaN" else "f" + java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d + 0.0))

  /** (row count, sha-256 hex) of `rows` with columns `names`, taking the
    * columns in name order and the rows in the given order. */
  def apply(names: Seq[String], rows: Iterable[Row]): (Long, String) =
    hash(names, rows.map(line(names, _)))

  /** As [[apply]], with the rows sorted, for results without an order. */
  def ofSet(names: Seq[String], rows: Iterable[Row]): (Long, String) =
    hash(names, rows.map(line(names, _)).toSeq.sorted)

  private def line(names: Seq[String], r: Row): String =
    names.indices.sortBy(names).map(i => value(r.get(i))).mkString("\u0001")

  private def hash(names: Seq[String], lines: Iterable[String]): (Long, String) = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(names.sorted.mkString("\u0001").getBytes(StandardCharsets.UTF_8))
    var n = 0L
    lines.foreach { l =>
      md.update("\u0002".getBytes(StandardCharsets.UTF_8))
      md.update(l.getBytes(StandardCharsets.UTF_8))
      n += 1
    }
    (n, md.digest().map(b => f"$b%02x").mkString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Length covered by the union of [start, end) intervals. */
  def union(spans: Iterable[(Double, Double)]): Double = {
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    spans.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) covered += curE - curS
    covered
  }
}
