package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** Order-insensitive result digests, checked against the DuckDB results
  * `prep.py` writes at setup. A digest is (row count, the sum mod 2^64 of
  * the first 8 bytes of each row's SHA-256), over canonical row lines with
  * the columns in name order. `canon` mirrors `prep._canon` value by value:
  * integers print exactly, floating values as round(v * 1e6), timestamps as
  * epoch microseconds (UTC), dates as epoch days.
  */
object Oracle {

  final case class Digest(rows: Long, hash: String)

  private def tsv(path: String): Map[String, Array[String]] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty)
      .map { l => val f = l.split("\t"); f.head -> f.tail }.toMap
    finally src.close()
  }

  /** `op \t rows \t hash` lines, as `run.py` writes them. */
  def load(path: String): Map[String, Digest] =
    tsv(path).map { case (op, f) => op -> Digest(f(0).toLong, f(1)) }

  /** `name \t rows` lines: the input tables' and stream batches' sizes. */
  def loadCounts(path: String): Map[String, Long] =
    tsv(path).map { case (name, f) => name -> f(0).toLong }

  def digest(columns: Seq[String], rows: Array[Row]): Digest = {
    val order = columns.indices.sortBy(columns)
    val sha = MessageDigest.getInstance("SHA-256")
    var total = 0L
    rows.foreach { r =>
      val line = order.map(i => canon(r.get(i))).mkString("\t")
      val h = sha.digest(line.getBytes(UTF_8))
      total += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
    Digest(rows.length.toLong, f"$total%016x")
  }

  private def micros(epochSecond: Long, nano: Int): Long =
    epochSecond * 1000000L + nano / 1000

  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => b.toString
    case i @ (_: Byte | _: Short | _: Int | _: Long) => i.toString
    case d: java.math.BigDecimal =>
      if (d.stripTrailingZeros.scale <= 0) d.toBigInteger.toString
      else canon(d.doubleValue)
    case d: scala.math.BigDecimal => canon(d.bigDecimal)
    case f: Float => canon(f.toDouble)
    case d: Double =>
      if (d.isNaN) "NaN"
      else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
      else "f" + new java.math.BigDecimal(math.floor(d * 1e6 + 0.5))
        .toBigInteger
    case t: java.sql.Timestamp =>
      val i = t.toInstant; "t" + micros(i.getEpochSecond, i.getNano)
    case i: java.time.Instant => "t" + micros(i.getEpochSecond, i.getNano)
    case t: java.time.LocalDateTime =>
      "t" + micros(t.toEpochSecond(java.time.ZoneOffset.UTC), t.getNano)
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
      .replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
  }
}
