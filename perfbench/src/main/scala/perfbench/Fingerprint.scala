package perfbench

import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.SQLDataTypes
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive content fingerprints. Floating-point values are
  * rounded to single precision first, so summation order inside the
  * engine cannot change a fingerprint. */
object Fingerprint {
  private val P = 2147483647L

  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => c.cast(FloatType)
    case ArrayType(e, _) => transform(c, x => norm(x, e))
    case StructType(fs) if fs.nonEmpty =>
      struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(k, v, _) =>
      norm(array_sort(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", k), StructField("value", v)))))
    case t if t == SQLDataTypes.VectorType => norm(vector_to_array(c), ArrayType(DoubleType))
    case _ => c
  }

  /** Per-row hash in [0, P), so a sum over rows cannot overflow. */
  def rowHash(df: DataFrame): Column =
    if (df.schema.isEmpty) lit(0L)
    else pmod(xxhash64(df.schema.fields.toIndexedSeq.map(f => norm(col(s"`${f.name}`"), f.dataType)): _*), lit(P))

  /** `rows:hashsum` of a whole frame. */
  def of(df: DataFrame): String = {
    val r = df.agg(count(lit(1)), sum(rowHash(df))).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }
}
