package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent result hash, so a pass's output can be compared
  * with the first pass's however the engine ordered or partitioned it:
  * `<row count>:<sum of per-row hashes>`.
  */
object Hashing {

  /** One aggregate computing row count and the sum of per-row xxhash64
    * values where the data is (maps go through to_json, which xxhash64
    * cannot take).
    */
  def aggregate(df: DataFrame): DataFrame = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.select(h.as("h")).agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
  }

  def ofAggregate(r: Row): String = s"${r.getLong(0)}:${r.get(1)}"
}
