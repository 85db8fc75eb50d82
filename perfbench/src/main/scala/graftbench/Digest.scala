package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a frame's rows: the row count and the
  * exact sum of one 64-bit hash per row, so partitioning, file layout and
  * row order do not change it while any changed value or row count does.
  */
object Digest {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case ArrayType(e, _) => hasMap(e)
    case StructType(fs) => fs.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def of(df: DataFrame): String = {
    // Spark refuses to hash maps; their JSON text is a faithful stand-in
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val r = df.select(xxhash64(cols: _*).cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val sum64 = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    s"${r.getLong(0)}:$sum64"
  }
}
