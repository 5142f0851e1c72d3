package perfbench

import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

/** Minimal JSON writer for the result file (no extra dependency). */
object Json {
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
    (b += '"').result()
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
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, x) => str(k) + ":" + value(x) }.mkString("{", ",", "}")
}

/** Canonical digest of a query result, independent of row order, column
  * order and engine: columns sorted by name, every cell rendered by
  * [[cell]], rows sorted, SHA-256 over the lines. `canon.py` renders
  * DuckDB's cells the same way, so the two digests of a correct card
  * are equal. */
object Digest {
  private val TwoTo53 = 9007199254740992.0

  def cell(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case n: Byte => "n" + n
    case n: Short => "n" + n
    case n: Int => "n" + n
    case n: Long => "n" + n
    case n: BigInt => "n" + n
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case d: java.math.BigDecimal =>
      val s = d.stripTrailingZeros
      if (s.scale <= 0) "n" + s.toBigInteger
      else num(d.doubleValue) // decimal outputs: compared as doubles
    case s: String => "s" + s
    case d: java.sql.Date => day(d.toLocalDate)
    case d: java.time.LocalDate => day(d)
    case t: java.sql.Timestamp => micros(t.toInstant)
    case t: java.time.Instant => micros(t)
    case t: java.time.LocalDateTime =>
      micros(t.toInstant(java.time.ZoneOffset.UTC))
    case a: Array[Byte] => "x" + a.map(b => f"$b%02x").mkString
    case r: Row => r.toSeq.map(cell).mkString("{", ",", "}")
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted
        .mkString("<", ",", ">")
    case xs: Iterable[_] => xs.map(cell).mkString("[", ",", "]")
    case other => "?" + other
  }

  /** Integral doubles (and -0.0) render like integers, so an engine that
    * types a whole-number column as DOUBLE agrees with one that types it
    * BIGINT; other doubles render as their exact IEEE bits. */
  def num(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == math.rint(d) && math.abs(d) < TwoTo53) "n" + d.toLong
    else f"f${java.lang.Double.doubleToLongBits(d)}%016x"

  /** A date renders as its midnight timestamp: engines disagree on
    * whether a month bucket is a DATE or a TIMESTAMP. */
  private def day(d: java.time.LocalDate): String =
    "T" + d.toEpochDay * 86400000000L

  private def micros(i: java.time.Instant): String =
    "T" + (i.getEpochSecond * 1000000L + i.getNano / 1000)

  /** Digest and row count of `df`; the canonical text is also written
    * to `dump` so a mismatch can be diagnosed from the run's files. */
  def of(df: DataFrame, dump: java.io.File): (String, Long) = {
    val names = df.columns.toSeq
    val order = names.zipWithIndex.sortBy(_._1.toLowerCase).map(_._2)
    val rows = df.collect().map(r => order.map(i => cell(r.get(i)))
      .mkString("|")).sorted
    val text = (order.map(names(_).toLowerCase).mkString("|") +: rows)
      .mkString("\n")
    java.nio.file.Files.write(dump.toPath, text.getBytes("UTF-8"))
    (sha256(text), rows.length.toLong)
  }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
}

/** One measured op. */
final case class Op(name: String, ms: Double, ok: Boolean, traced: Boolean,
    kind: String = "op")

/** A run's ops, output checks, card digests and counters. */
final class Recorder {
  val ops = mutable.ArrayBuffer.empty[Op]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  /** Card → (digest, rows, oracle SQL) (analytics_mix). */
  val digests = mutable.LinkedHashMap.empty[String, (String, Long, String)]
  def check(what: String, ok: Boolean, detail: => String = ""): Unit =
    checks += ((what, ok, if (ok) "" else detail))
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
