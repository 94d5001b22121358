package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Order-independent digest of a result set: its row count and the sum
  * (mod 2^64) of a per-row hash. A row's hash is the low 64 bits of the
  * MD5 of its canonical text, in which the columns appear sorted by name
  * and doubles are rounded to 6 decimals, the same normalization the
  * engine's DuckDB oracle comparison applies. `record.py` implements the
  * same canonical text over DuckDB results.
  *
  * Canonical tokens: null -> `\N`; integers -> decimal; float, double and
  * decimal -> floor(x * 1e6 + 0.5) as a decimal integer (`NaN`, `Inf`,
  * `-Inf` for the non-finite values);
  * booleans -> true/false; dates -> epoch days; timestamps -> epoch
  * microseconds; strings as is; binary -> hex; arrays -> `[a,b]`;
  * structs -> `{a,b}`; maps -> `{k:v,...}` in storage order. Tokens are
  * joined with U+0001. */
final case class Digest(rows: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
  def hex: String = f"$sum%016x"
}

object RowHash {
  val Zero: Digest = Digest(0L, 0L)

  def sortedFields(schema: StructType): Array[(Int, DataType)] =
    schema.fields.zipWithIndex.sortBy(_._1.name).map { case (f, i) => (i, f.dataType) }

  def rowHash(row: InternalRow, fields: Array[(Int, DataType)], md: MessageDigest): Long = {
    val sb = new java.lang.StringBuilder
    var first = true
    fields.foreach { case (i, t) =>
      if (!first) sb.append('\u0001')
      first = false
      token(sb, if (row.isNullAt(i)) null else row.get(i, t), t)
    }
    low64(md.digest(sb.toString.getBytes(UTF_8)))
  }

  def low64(d: Array[Byte]): Long = {
    var v = 0L
    var k = 8
    while (k < 16) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
    v
  }

  def digest(rows: Iterator[InternalRow], fields: Array[(Int, DataType)]): Digest = {
    val md = MessageDigest.getInstance("MD5")
    var n = 0L
    var s = 0L
    rows.foreach { r => n += 1; s += rowHash(r, fields, md) }
    Digest(n, s)
  }

  private def rounded(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else new java.math.BigDecimal(math.floor(d * 1e6 + 0.5)).toBigInteger.toString

  private def token(sb: java.lang.StringBuilder, v: Any, t: DataType): Unit =
    if (v == null) sb.append("\\N")
    else t match {
      case FloatType => sb.append(rounded(v.asInstanceOf[Float].toDouble))
      case DoubleType => sb.append(rounded(v.asInstanceOf[Double]))
      case _: DecimalType =>
        sb.append(rounded(v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble))
      case BinaryType => v.asInstanceOf[Array[Byte]].foreach(b => sb.append(f"$b%02x"))
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        sb.append('[')
        (0 until a.numElements()).foreach { j =>
          if (j > 0) sb.append(',')
          token(sb, if (a.isNullAt(j)) null else a.get(j, et), et)
        }
        sb.append(']')
      case st: StructType =>
        val r = v.asInstanceOf[InternalRow]
        sb.append('{')
        st.fields.zipWithIndex.foreach { case (f, j) =>
          if (j > 0) sb.append(',')
          token(sb, if (r.isNullAt(j)) null else r.get(j, f.dataType), f.dataType)
        }
        sb.append('}')
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        sb.append('{')
        (0 until m.numElements()).foreach { j =>
          if (j > 0) sb.append(',')
          token(sb, m.keyArray().get(j, kt), kt)
          sb.append(':')
          token(sb, if (m.valueArray().isNullAt(j)) null else m.valueArray().get(j, vt), vt)
        }
        sb.append('}')
      case _ => sb.append(v.toString) // integers, booleans, days, micros, UTF8String
    }
}
