package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a result over every column: the row
  * count, and the sum and xor of a 64-bit hash of each row. Doubles are
  * rounded to 9 decimal places first, the precision the DuckDB oracle
  * comparison uses, so the fingerprint does not depend on the order in
  * which partial sums were combined.
  */
object Fingerprint {
  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(e, _) => hasFloat(e)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case MapType(k, v, _) => hasFloat(k) || hasFloat(v)
    case _ => false
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case _ if !hasFloat(t) => c
    case DoubleType | FloatType => round(c.cast(DoubleType), 9) + lit(0.0)
    case ArrayType(e, _) => transform(c, x => norm(x, e))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(_, v, _) => transform_values(c, (_, x) => norm(x, v))
    case _ => c
  }

  /** (rows, "sum:xor") of `df`, computed by one aggregation job. */
  def of(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => norm(col(f.name), f.dataType))
    val r = named.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))),
        bit_xor(col("h")))
      .head()
    val n = r.getLong(0)
    (n, if (n == 0) "0:0" else s"${r.getDecimal(1)}:${r.getLong(2)}")
  }
}
