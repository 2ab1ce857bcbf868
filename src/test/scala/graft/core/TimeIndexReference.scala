package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference formulation that specs pin [[TimeIndex.dedupKeepFirst]]
  * against; not part of the engine surface.
  */
object TimeIndexReference {

  /** `row_number` form of [[TimeIndex.dedupKeepFirst]]: rank each
    * (keys, ts) group by `tiebreak` and keep rank 1. It partitions by
    * (keys, ts), so the series windows after it plan a second
    * exchange, on the keys.
    */
  def dedupKeepFirst(df: DataFrame, spec: SeriesSpec, tiebreak: Column): DataFrame = {
    val w = Window.partitionBy((spec.keyCols :+ spec.tsCol): _*).orderBy(tiebreak)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
