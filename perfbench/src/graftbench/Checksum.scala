package graftbench

import java.math.{BigDecimal => JBigDecimal, MathContext}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-insensitive result checksum.
  *
  * Canonical form: columns in name order, every number as a plain decimal
  * string with trailing zeros stripped (so 3, 3.0 and 3.00 agree),
  * floating values rounded to 12 significant digits, map entries in key
  * order. Each canonical row hashes to 64 bits and the hashes are summed
  * with wrap-around, so row order never matters and duplicate rows count.
  */
object Checksum {
  final case class Result(rows: Long, sum: Long) {
    def hex: String = f"$sum%016x"
  }

  private val Digits = new MathContext(12)

  def canon(v: Any, dt: DataType): String =
    if (v == null) "␀"
    else dt match {
      case DoubleType => canonDouble(v.asInstanceOf[Double])
      case FloatType => canonDouble(v.asInstanceOf[Float].toDouble)
      case _: DecimalType => plain(v match {
        case d: Decimal => d.toJavaBigDecimal
        case d: JBigDecimal => d
        case d: scala.math.BigDecimal => d.bigDecimal
      })
      case ByteType | ShortType | IntegerType | LongType =>
        v.toString
      case StringType => v.toString
      case BinaryType => v.asInstanceOf[Array[Byte]].map(b => f"$b%02x").mkString
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        (0 until a.numElements()).map(i =>
          canon(if (a.isNullAt(i)) null else a.get(i, et), et))
          .mkString("[", ",", "]")
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val (ks, vs) = (m.keyArray(), m.valueArray())
        (0 until m.numElements()).map(i =>
          canon(ks.get(i, kt), kt) + ":" +
            canon(if (vs.isNullAt(i)) null else vs.get(i, vt), vt))
          .sorted.mkString("{", ",", "}")
      case st: StructType =>
        canonRow(v.asInstanceOf[InternalRow], st)
      case _ => v.toString
    }

  private def canonDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else plain(new JBigDecimal(d).round(Digits))

  private def plain(d: JBigDecimal): String =
    if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString

  /** Fields in name order, each as `name=value`. */
  def canonRow(r: InternalRow, st: StructType): String = {
    val order = st.fields.indices.sortBy(i => st.fields(i).name)
    order.map { i =>
      val f = st.fields(i)
      f.name + "=" + canon(if (r.isNullAt(i)) null else r.get(i, f.dataType),
        f.dataType)
    }.mkString("(", ";", ")")
  }

  def hash64(s: String): Long = {
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }

  /** Fold already-materialised rows (the in-JVM reference side). */
  def ofRows(rows: Iterator[InternalRow], st: StructType): Result = {
    var n = 0L
    var sum = 0L
    rows.foreach { r => n += 1; sum += hash64(canonRow(r, st)) }
    Result(n, sum)
  }

  /** Execute `df`'s physical plan and checksum its output on the executors. */
  def of(df: DataFrame): Result = {
    val st = df.schema
    df.queryExecution.toRdd
      .mapPartitions(it => Iterator(ofRows(it, st)))
      .collect()
      .foldLeft(Result(0L, 0L))((a, b) => Result(a.rows + b.rows, a.sum + b.sum))
  }

  /** Checksum of a single string column named `name` from JVM strings. */
  def ofStrings(name: String, values: Iterator[String]): Result = {
    val st = StructType(Seq(StructField(name, StringType)))
    ofRows(values.map(s => InternalRow(UTF8String.fromString(s))), st)
  }
}
