package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: its Spark build over a testdata directory and
  * the DuckDB SQL that computes the same values on the same parquet
  * tables. `family` is the operator family the benchmark reports it
  * under; `oracle` is None only for a rows-only query.
  */
final case class QueryDef(
    name: String,
    family: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])
