package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Row}

/** Order-sensitive SHA-256 of a result, with columns sorted by name. The
  * encoding matches `digest_rows` in `perfbench/make_digests.py`, which
  * digests the DuckDB oracle's result the same way, and it is as lenient
  * as `tools/check.py`: numbers compare by value whatever their type (an
  * integral value reads as an integer), and NaN reads as NULL.
  */
object Digest {
  final case class Result(sha256: String, rows: Long)

  def of(df: DataFrame): Result = {
    val names = df.columns
    val order = names.indices.sortBy(names(_))
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(names(_)).mkString(",").getBytes(UTF_8))
    val rows = df.collect()
    rows.foreach { r =>
      val sb = new StringBuilder
      order.foreach { i => sb += (if (i == order.head) '\n' else '\t'); cell(sb, r.get(i)) }
      md.update(sb.toString.getBytes(UTF_8))
    }
    Result(md.digest().map(b => f"${b & 0xff}%02x").mkString, rows.length)
  }

  private val Exact = 9007199254740992.0 // 2^53

  private def number(sb: StringBuilder, d: Double): Unit =
    if (d.isNaN) sb ++= "N"
    else if (d.isInfinite) sb ++= (if (d > 0) "f:inf" else "f:-inf")
    else if (d == math.rint(d) && math.abs(d) < Exact) sb ++= "n:" ++= d.toLong.toString
    else sb ++= f"f:${java.lang.Double.doubleToLongBits(d)}%016x"

  private def time(sb: StringBuilder, t: LocalDateTime): Unit =
    sb ++= f"t:${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d " ++=
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d.${t.getNano / 1000}%06d"

  private def cell(sb: StringBuilder, v: Any): Unit = v match {
    case null => sb ++= "N"
    case b: Boolean => sb ++= (if (b) "b:true" else "b:false")
    case i @ (_: Byte | _: Short | _: Int | _: Long) => sb ++= "n:" ++= i.toString
    case i: java.math.BigInteger => sb ++= "n:" ++= i.toString
    case f: Float => number(sb, f.toDouble)
    case d: Double => number(sb, d)
    case d: java.math.BigDecimal => number(sb, d.doubleValue)
    case d: scala.math.BigDecimal => number(sb, d.toDouble)
    case s: String =>
      sb ++= "s" ++= s.getBytes(UTF_8).length.toString ++= ":" ++= s
    case t: java.sql.Timestamp => time(sb, LocalDateTime.ofInstant(t.toInstant, ZoneOffset.UTC))
    case t: java.time.Instant => time(sb, LocalDateTime.ofInstant(t, ZoneOffset.UTC))
    case t: LocalDateTime => time(sb, t)
    case d: java.sql.Date => sb ++= "d:" ++= d.toLocalDate.toString
    case d: java.time.LocalDate => sb ++= "d:" ++= d.toString
    case b: Array[Byte] => sb ++= "x:" ++= b.map(x => f"${x & 0xff}%02x").mkString
    case r: Row =>
      sb ++= "{"
      r.schema.fieldNames.zipWithIndex.foreach { case (n, i) =>
        if (i > 0) sb ++= ","
        sb ++= n ++= "="
        cell(sb, r.get(i))
      }
      sb ++= "}"
    case m: scala.collection.Map[_, _] =>
      val kv = m.toSeq.map { case (k, x) =>
        val ks = new StringBuilder; cell(ks, k)
        val vs = new StringBuilder; cell(vs, x)
        ks.toString -> vs.toString
      }.sortBy(_._1)
      sb ++= "m{" ++= kv.map { case (k, x) => s"$k=>$x" }.mkString(",") ++= "}"
    case s: scala.collection.Seq[_] =>
      sb ++= "["
      s.zipWithIndex.foreach { case (x, i) => if (i > 0) sb ++= ","; cell(sb, x) }
      sb ++= "]"
    case other => sb ++= "?" ++= other.toString
  }
}
