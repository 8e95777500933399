package ddfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The sink of a frame-returning call: it materializes every row and
  * yields an order-insensitive digest, the row count plus the `bit_xor` of
  * `xxhash64` over all columns (the shape of `graft.Bench.materialize`).
  * Floating values are first rounded to single precision (24 significant
  * bits), so a different summation order is not a different result.
  */
object Digest {

  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType => true
    case ArrayType(e, _) => hasFloat(e)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case MapType(k, v, _) => hasFloat(k) || hasFloat(v)
    case _ => false
  }

  /** `c` with doubles rounded to floats and maps as sorted entry arrays
    * (xxhash64 rejects maps).
    */
  def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType => c.cast(FloatType)
    case ArrayType(e, _) if hasFloat(e) => transform(c, x => canonical(x, e))
    case StructType(fs) if hasFloat(t) =>
      struct(fs.toSeq.map(f => canonical(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(k, v, _) => canonical(array_sort(map_entries(c)),
      ArrayType(StructType(Seq(StructField("key", k), StructField("value", v)))))
    case _ => c
  }

  /** (row count, xor of row hashes) of `df`. */
  def frame(df: DataFrame): (Long, Long) = {
    // positional names: joined frames may carry duplicate column names
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => canonical(col(f.name), f.dataType))
    val r = named.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L))).first()
    (r.getLong(0), r.getLong(1))
  }
}
