package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{StructField, StructType}

/** Recurrences over BOUNDED domains (|types|², |entities|², |sources|
  * cells) run as driver arithmetic: the distributed first pass builds
  * the cell table, [[collect]] brings it over in one action, and the
  * operator folds its fixed rounds in exact `Long`/`BigInt` integers
  * (non-negative operands, so `/` truncates exactly as the DECIMAL(38,0)
  * `div` of the SQL twins). No round joins, persists or checkpoints
  * anything; [[frame]] hands the result back as a small local frame
  * for the operator's usual rounding and ordering finish.
  */
private[graft] object DriverFold {

  /** Most rows a bounded-domain table may have: 2^20. */
  val Cap: Int = 1 << 20

  /** All rows of `table`, or an IllegalArgumentException naming `op`
    * and the column to coarsen when there are more than [[Cap]]. */
  def collect(table: DataFrame, op: String, coarsen: String): Array[Row] = {
    val rows = table.limit(Cap + 1).collect()
    require(rows.length <= Cap,
      s"$op folds its domain table on the driver, but it has more than $Cap " +
        s"rows; coarsen or bucket '$coarsen' first")
    rows
  }

  def frame(like: DataFrame, rows: Seq[Row], fields: StructField*): DataFrame = {
    import scala.jdk.CollectionConverters._
    like.sparkSession.createDataFrame(rows.asJava, StructType(fields))
  }
}
