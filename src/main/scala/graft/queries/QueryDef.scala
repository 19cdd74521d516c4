package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator query: a Spark build function plus an
  * equivalent DuckDB oracle SQL over the same parquet tables. The driver hash-compares the two at
  * sf0.01 (column names must match exactly; see Verify.scala).
  *
  * Determinism rules used throughout (so exact hash compare passes):
  *   - event-time arithmetic is integer epoch-micros; ordering uses the
  *     total key `epoch_us(ts)*1000 + id%1000` (WindowOps.orderKey);
  *   - large double sums go through exact integer-valued doubles
  *     (`sum(round(x*100))/100` — order-independent below 2^53);
  *   - remaining float aggregates are rounded to 4dp;
  *   - no raw timestamp outputs (epoch micros/millis bigints instead).
  */
final case class QueryDef(
    build: (SparkSession, String) => DataFrame,
    oracle: String)

object QueryDef {
  def apply(oracleSql: String)(build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(build, oracleSql)
}
