package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._

/** Order-insensitive result fingerprint: row count plus the wrapping sum of
  * per-row 64-bit hashes. Summing makes it independent of row order and
  * partitioning while still counting duplicate rows. Doubles and floats are
  * rounded in the mantissa (to ~32 and ~16 bits) before hashing, so sums
  * whose last bits depend on the reduction order hash the same; decimals hash
  * by exact value whatever their scale.
  */
final case class Fingerprint(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
}

object Fingerprint {

  /** Run the query to completion and fingerprint its rows in the same pass.
    * Every column of every row is produced and hashed, so no projection is
    * pruned away. */
  def of(df: DataFrame): Fingerprint = {
    val qe = df.queryExecution
    val hashRow = rowHasher(df.schema)
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench")) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L; var sum = 0L
        it.foreach { r => n += 1; sum += hashRow(r) }
        Iterator((n, sum))
      }.collect()
    }
    Fingerprint(parts.map(_._1).sum, parts.map(_._2).sum)
  }

  /** Same fingerprint over plain rows (the unit tests' entry). */
  def ofRows(schema: StructType, rows: Seq[InternalRow]): Fingerprint = {
    val hashRow = rowHasher(schema)
    Fingerprint(rows.size.toLong, rows.map(hashRow).sum)
  }

  def mix(h: Long, v: Long): Long = splitmix(h * 0x9E3779B97F4A7C15L + v)

  private def splitmix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Round a double to the nearest multiple of 2^-32 in its mantissa. */
  def roundDouble(d: Double): Long =
    if (d.isNaN) 0x7ff8000000000000L
    else if (d == 0.0) 0L
    else if (d.isInfinite) java.lang.Double.doubleToLongBits(d)
    else (java.lang.Double.doubleToLongBits(d) + (1L << 19)) & ~((1L << 20) - 1)

  def roundFloat(f: Float): Long =
    if (f.isNaN) 0x7fc00000L
    else if (f == 0.0f) 0L
    else if (f.isInfinite) java.lang.Float.floatToIntBits(f).toLong
    else ((java.lang.Float.floatToIntBits(f) + (1 << 6)) & ~((1 << 7) - 1)).toLong

  private val NullHash = 0x5bd1e995L

  def rowHasher(schema: StructType): InternalRow => Long = {
    val fields = schema.fields.map(_.dataType).zipWithIndex.map {
      case (t, i) => (i, valueHasher(t))
    }
    row => fields.foldLeft(17L) { case (h, (i, f)) =>
      mix(h, if (row.isNullAt(i)) NullHash else f(row, i))
    }
  }

  /** Hash of the value at ordinal i of a row-like container, by type. */
  private type Getter = (org.apache.spark.sql.catalyst.expressions.SpecializedGetters, Int) => Long

  private def valueHasher(t: DataType): Getter = t match {
    case BooleanType => (r, i) => if (r.getBoolean(i)) 1L else 2L
    case ByteType => (r, i) => r.getByte(i).toLong
    case ShortType => (r, i) => r.getShort(i).toLong
    case IntegerType | DateType | _: YearMonthIntervalType => (r, i) => r.getInt(i).toLong
    case LongType | TimestampType | TimestampNTZType | _: DayTimeIntervalType =>
      (r, i) => r.getLong(i)
    case FloatType => (r, i) => roundFloat(r.getFloat(i))
    case DoubleType => (r, i) => roundDouble(r.getDouble(i))
    case d: DecimalType => (r, i) =>
      r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.stripTrailingZeros.hashCode.toLong
    case _: StringType => (r, i) => {
      val s = r.getUTF8String(i)
      mix(s.hashCode.toLong, s.numBytes.toLong)
    }
    case BinaryType => (r, i) => java.util.Arrays.hashCode(r.getBinary(i)).toLong
    case ArrayType(et, _) =>
      val eh = valueHasher(et)
      (r, i) => {
        val a: ArrayData = r.getArray(i)
        (0 until a.numElements()).foldLeft(31L) { (h, j) =>
          mix(h, if (a.isNullAt(j)) NullHash else eh(a, j))
        }
      }
    case MapType(kt, vt, _) =>
      val kh = valueHasher(kt); val vh = valueHasher(vt)
      (r, i) => {
        val m: MapData = r.getMap(i)
        val ks = m.keyArray(); val vs = m.valueArray()
        // entry order is not part of a map's value
        (0 until m.numElements()).map { j =>
          mix(kh(ks, j), if (vs.isNullAt(j)) NullHash else vh(vs, j))
        }.sum
      }
    case st: StructType =>
      val inner = rowHasher(st)
      (r, i) => inner(r.getStruct(i, st.size))
    case other => (r, i) => String.valueOf(r.get(i, other)).hashCode.toLong
  }
}
