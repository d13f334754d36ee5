package perfbench

import java.math.{MathContext, BigDecimal => JBigDecimal}
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a whole query result.
  *
  * Each row is rendered to a canonical string and hashed to 64 bits; the
  * digest is the row count, the column names and the wrapping sum of the
  * row hashes, so any row order gives the same digest and any changed,
  * missing or extra row changes it. Values are normalized so that a result
  * read back from parquet digests like the live one:
  *  - integral types of any width render as one decimal integer;
  *  - floats and doubles round to 9 significant digits. `tools/check.py`
  *    compares float64 exactly, which holds for the queries that sum
  *    through DECIMAL; the rounding keeps the digest stable for the others,
  *    whose last bits depend on the order partial sums are combined in;
  *  - decimals render exactly, without trailing zeros;
  *  - maps render with their entries sorted.
  */
object Digest {
  private val sig = new MathContext(9)

  def of(schema: StructType, rows: Array[Row]): String = {
    var sum = 0L
    rows.foreach { r =>
      val s = row(r)
      val hi = MurmurHash3.stringHash(s, 0x5eed1)
      val lo = MurmurHash3.stringHash(s, 0x5eed2)
      sum += (hi.toLong << 32) | (lo & 0xffffffffL)
    }
    val cols = MurmurHash3.stringHash(schema.fieldNames.mkString(","))
    f"${rows.length}%d:$cols%08x:$sum%016x"
  }

  private def row(r: Row): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < r.length) {
      if (i > 0) sb.append('\u0001')
      sb.append(value(r.get(i)))
      i += 1
    }
    sb.toString
  }

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(sig).stripTrailingZeros.toPlainString

  def value(v: Any): String = v match {
    case null => "∅"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case b: JBigDecimal => b.stripTrailingZeros.toPlainString
    case b: scala.math.BigDecimal => b.bigDecimal.stripTrailingZeros.toPlainString
    case n: java.lang.Number => n.longValue.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case t: java.time.Instant =>
      (t.getEpochSecond * 1000000L + t.getNano / 1000).toString
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case r: Row => (0 until r.length).map(i => value(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }
}
