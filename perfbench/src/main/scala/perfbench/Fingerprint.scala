package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Order-insensitive fingerprint of a query result: the row count and the
  * sum of a 64-bit hash of each row, the row's columns taken in sorted-name
  * order. Addition commutes, so partitioning and row order do not change
  * the fingerprint; any changed cell does, with overwhelming probability.
  */
object Fingerprint {
  final case class Value(rows: Long, hash: String)

  def of(df: DataFrame): Value = {
    val cols: Seq[Column] = df.schema.fields.sortBy(_.name).toSeq.map { f =>
      f.dataType match {
        // Map entry order is not part of a map's value.
        case _: MapType => array_sort(map_entries(col(s"`${f.name}`")))
        case _ => col(s"`${f.name}`")
      }
    }
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(rowHash.cast("decimal(38,0)"))).head()
    Value(r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
