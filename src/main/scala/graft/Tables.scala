package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided testdata tables (see TESTDATA.md).
  * Each table is a single parquet file under `dir` (an sf directory such
  * as `/root/testdata/sf0.01`). At production scale these would be
  * day/key-partitioned parquet tables registered in the catalog
  * (SURVEY.md §1.3); the read path is identical — `spark.read.parquet`
  * with Catalyst handling partition pruning and filter pushdown.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The `events` table contract: `ts` is an epoch-NANOSECONDS Long, so
    * all event-time arithmetic stays in exact integers — deterministic
    * across engines (`ts div 1000` here equals DuckDB `epoch_us(ts)`).
    * The driver has shipped the column under two physical encodings —
    * INT64 TIMESTAMP(NANOS) (readable only via `nanosAsLong`) and INT64
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ) —
    * so the loader normalizes whatever it finds back to the nanos-Long
    * contract. Sessions run with spark.sql.session.timeZone=UTC, making
    * the NTZ->LTZ cast value-preserving. */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df // TIMESTAMP(NANOS) under nanosAsLong: already nanos
    case TimestampNTZType =>
      df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
    case TimestampType =>
      df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
    case other =>
      throw new IllegalStateException(s"events.ts: unexpected type $other")
  }

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(apply(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
