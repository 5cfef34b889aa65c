package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive checksum over every column of a result.
  *
  * Each row hashes all of its columns (taken in name order), so Catalyst
  * cannot prune any output column from the plan. Rows combine by two
  * 32-bit-half sums, which do not depend on row order and cannot overflow.
  * Floating-point values are rounded to 8 significant digits first: the
  * last bits of a float sum may differ with the order partitions finish.
  */
object Checksum {

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      when(isnan(d), lit("NaN")).otherwise(format_string("%.8g", d + lit(0.0)))
    case _: DecimalType => c.cast(StringType)
    case ArrayType(et, _) => transform(c, e => normalize(e, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        normalize(e.getField("key"), kt).as("k"),
        normalize(e.getField("value"), vt).as("v"))))
    case StructType(fields) =>
      struct(fields.toSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*)
    case u: UserDefinedType[_] if u.sqlType.isInstanceOf[StructType] &&
        u.userClass == classOf[org.apache.spark.ml.linalg.Vector] =>
      normalize(org.apache.spark.ml.functions.vector_to_array(c), ArrayType(DoubleType))
    case _ => c
  }

  /** `rows:lo:hi` of a result; running it consumes the result once. */
  def of(df: DataFrame): String = {
    val names = df.columns.indices.map(i => s"c$i")
    val renamed = df.toDF(names: _*)
    val ordered = df.schema.fields.zipWithIndex.sortBy(_._1.name).map {
      case (f, i) => normalize(col(names(i)), f.dataType)
    }
    val h = if (ordered.isEmpty) lit(0L) else xxhash64(ordered.toSeq: _*)
    val r = renamed.select(h.as("h")).agg(
      count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(0xffffffffL)), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L))).head()
    s"${r.getLong(0)}:${r.getLong(1)}:${r.getLong(2)}"
  }
}
