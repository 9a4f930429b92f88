package graft.perfbench

import java.math.{MathContext, RoundingMode, BigDecimal => JBigDecimal}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

/** Order-insensitive fingerprints of query results and tables. */
object Fingerprint {

  private val TenDigits = new MathContext(10, RoundingMode.HALF_EVEN)

  /** Doubles are rounded to 10 significant digits, the `%.10g`
    * normalisation of tools/local_verify.py, so a different summation
    * order inside an aggregate does not change the fingerprint.
    */
  private def double(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new JBigDecimal(d).round(TenDigits).stripTrailingZeros.toString

  def cell(v: Any): String = v match {
    case null => "null"
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case d: JBigDecimal => d.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"${x & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }

  private def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x2f1a6b3d).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)

  private def schemaString(schema: StructType): String =
    schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")

  /** Collected result rows → (row count, fingerprint). The fingerprint
    * is the schema's hash plus the wrapping sum of the row hashes, so
    * it ignores row order but not duplicates.
    */
  def ofRows(schema: StructType, rows: Array[Row]): (Long, String) = {
    var sum = hash64(schemaString(schema))
    rows.foreach(r => sum += hash64(r.toSeq.map(cell).mkString("\u0001")))
    (rows.length.toLong, f"$sum%016x")
  }

  /** A whole table, consumed on the executors in one job: every column
    * of every row feeds `xxhash64`, and the exact decimal sum of the
    * row hashes is order-insensitive. Columns are cast to `schema`
    * first, so a container that widens a type still compares by value.
    */
  def ofTable(df: DataFrame, schema: StructType): (Long, String) = {
    val cols: Seq[Column] = schema.fields.toSeq.map(f => col(f.name).cast(f.dataType))
    val r = df.select(xxhash64(cols: _*).cast(DecimalType(20, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val total = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    (r.getLong(0), s"${hash64(schemaString(schema)).toHexString}:$total")
  }
}
