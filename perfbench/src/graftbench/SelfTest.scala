package graftbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Checks of the checksum's canonical form, without a Spark session.
  * Prints one line per check and exits non-zero if any fails.
  */
object SelfTest {
  private def sum(st: StructType, rows: Seq[InternalRow]) =
    Checksum.ofRows(rows.iterator, st)

  def run(): Unit = {
    val ab = StructType(Seq(StructField("a", LongType), StructField("b", StringType)))
    val ba = StructType(Seq(StructField("b", StringType), StructField("a", LongType)))
    val s = UTF8String.fromString _
    val r1 = InternalRow(1L, s("x"))
    val r2 = InternalRow(2L, s("y"))
    val dec = StructType(Seq(StructField("v", DecimalType(10, 2))))
    val dec4 = StructType(Seq(StructField("v", DecimalType(12, 4))))
    val dbl = StructType(Seq(StructField("v", DoubleType)))
    val checks = Seq(
      "row order" -> (sum(ab, Seq(r1, r2)) == sum(ab, Seq(r2, r1))),
      "column order" -> (sum(ab, Seq(r1)) ==
        sum(ba, Seq(InternalRow(s("x"), 1L)))),
      "duplicate rows count" -> (sum(ab, Seq(r1, r1)) != sum(ab, Seq(r1))),
      "values matter" -> (sum(ab, Seq(r1)) != sum(ab, Seq(InternalRow(1L, s("z"))))),
      "decimal scale" -> (sum(dec, Seq(InternalRow(Decimal(BigDecimal("1.50"), 10, 2)))) ==
        sum(dec4, Seq(InternalRow(Decimal(BigDecimal("1.5000"), 12, 4))))),
      "decimal vs double" -> (sum(dec, Seq(InternalRow(Decimal(BigDecimal("2.25"), 10, 2)))) ==
        sum(dbl, Seq(InternalRow(2.25)))),
      "double rounding" -> (sum(dbl, Seq(InternalRow(0.1 + 0.2))) ==
        sum(dbl, Seq(InternalRow(0.3)))),
      "null is not empty" -> (sum(ab, Seq(InternalRow(1L, null))) !=
        sum(ab, Seq(InternalRow(1L, s(""))))),
      "negative zero" -> (sum(dbl, Seq(InternalRow(-0.0))) == sum(dbl, Seq(InternalRow(0.0))))
    )
    checks.foreach { case (n, ok) => println(s"${if (ok) "ok  " else "FAIL"} checksum: $n") }
    if (checks.exists(!_._2)) sys.exit(1)
  }
}
