package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive content checksum of a DataFrame: the row count plus the
  * exact (decimal) sum of one 64-bit hash per row. Each row is first rendered
  * to a canonical string in which every floating-point value keeps six
  * significant digits and magnitudes below 1e-9 read as zero, so results that
  * differ only in floating-point summation order (shuffle arrival order,
  * partial-aggregate merge order) hash identically. Map entries are sorted;
  * array order is kept, because it is part of the value.
  */
object Checksum {
  final case class Result(rows: Long, sum: String)

  private def canon(c: Column, t: DataType): Column = {
    val rendered: Column = t match {
      case DoubleType | FloatType =>
        val d = c.cast(DoubleType)
        when(isnan(d), lit("NaN"))
          .when(abs(d) < lit(1e-9), lit("0"))
          .otherwise(format_string("%.5e", d))
      case ArrayType(et, _) =>
        concat(lit("["), array_join(transform(c, e => canon(e, et)), ","), lit("]"))
      case MapType(kt, vt, _) =>
        concat(lit("{"), array_join(array_sort(transform(map_entries(c),
          e => concat(canon(e.getField("key"), kt), lit(":"), canon(e.getField("value"), vt)))), ","), lit("}"))
      case StructType(fields) =>
        concat(lit("("), concat_ws(",", fields.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType)): _*), lit(")"))
      case BinaryType => hex(c)
      case _ => c.cast(StringType)
    }
    coalesce(rendered, lit("∅"))
  }

  /** Column names take part, so a renamed or reordered column changes the sum. */
  def rowHash(df: DataFrame): Column = {
    val parts = df.schema.fields.toIndexedSeq.map(f => concat(lit(f.name + "="), canon(col(s"`${f.name}`"), f.dataType)))
    xxhash64(concat_ws("|", parts: _*))
  }

  def of(df: DataFrame): Result = {
    val r = df.select(rowHash(df).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .first()
    Result(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
