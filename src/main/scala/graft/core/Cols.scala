package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** Column edits as one projection. Every `withColumn`, `drop` or
  * `withColumnRenamed` builds a new analysed `Dataset`, and analysis
  * walks the whole plan below it: a chain of n such calls on an m-node
  * plan costs about n·m on the driver before any job starts. The
  * operators build each step's columns in one projection instead.
  */
object Cols {

  /** `df.drop(drop: _*).withColumns(...)` in one projection: `df`'s
    * columns without `drop`, each of `cols` replacing its namesake in
    * place or appended in order. The expressions read `df`'s columns,
    * the dropped ones too, but not each other: where one needs
    * another, inline it.
    */
  def project(df: DataFrame, drop: Seq[String], cols: (String, Column)*): DataFrame = {
    def named(c: String) = cols.find(_._1.equalsIgnoreCase(c))
    val kept = df.columns.toSeq.filterNot(c => drop.exists(_.equalsIgnoreCase(c)))
    val inPlace = kept.map(c => named(c).fold(col(quoted(c)))(p => p._2.as(p._1)))
    val appended = cols.filterNot(p => kept.exists(_.equalsIgnoreCase(p._1)))
      .map(p => p._2.as(p._1))
    df.select(inPlace ++ appended: _*)
  }

  /** `df.withColumns(...)` in one projection, in the order given
    * (Spark's public `withColumns` takes an unordered map).
    */
  def set(df: DataFrame, cols: (String, Column)*): DataFrame = project(df, Nil, cols: _*)

  /** `name` as a column reference that is never parsed as a nested
    * field.
    */
  private def quoted(name: String): String = "`" + name.replace("`", "``") + "`"
}
