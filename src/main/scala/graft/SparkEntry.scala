package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{AsofJoin, WindowOps}
import graft.queries._
import graft.sources.SyntheticSine

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries`/`oracleSql` are assembled from the per-domain suites in
  * graft.queries: every entry is one operator of SURVEY.md §2 (or a
  * beyond-reference LLM-pipeline operator) with, where expressible, a
  * DuckDB oracle the driver hash-compares at sf0.01.
  */
object SparkEntry {

  private def allDefs: Map[String, QueryDef] =
    RelationalQueries.defs ++ EventQueries.defs ++ DocQueries.defs ++
      EmbeddingQueries.defs ++ StatefulQueries.defs ++ MultimodalQueries.defs

  /** Flagship query (reference README quick-start, SURVEY.md §7 stage 4):
    * synthetic sine mid-price → sliding volatility → point-in-time join →
    * 5s-lookahead label ⇒ FeatureLabelSet. Fully deterministic, no
    * external data; driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    import graft.core._
    import graft.core.BuiltinDefs._
    val t0 = 1704067200000000L // 2024-01-01T00:00:00Z in epoch micros
    val hour = 3600L * 1000000L
    // freq = 0.05 Hz (20s period): the reference fixture's freq=5 with
    // 1s sampling aliases to a constant (sin(10 pi k) = 0) — a real
    // oscillation makes the volatility/label/backtest path meaningful.
    val src = SyntheticSine(spark, t0, t0 + hour, 1000000L, freq = 0.05)
      .select(col("ts_us"), col("seq"), col("mid_price"))

    // Declarative forest (the engine's front door): shared sine source,
    // volatility feature, 5s-lookahead label, point-in-time join root —
    // the reference README quick-start config, as a Feature tree.
    val sine = Feature(SourceDef("sine"))
    val vol = Feature(VolatilityDef,
      Map("ts" -> "ts_us", "seq" -> "seq", "value" -> "mid_price",
        "lookback_us" -> "60000000"), Seq(sine))
    val labeled = Feature(LookaheadLabelDef,
      Map("ts" -> "ts_us", "delta_us" -> "5000000", "tie" -> "seq"), Seq(sine))
    val root = Feature(PitJoinDef,
      Map("ts" -> "ts_us", "names" -> "volatility", "tie" -> "seq"),
      Seq(labeled, vol))

    Forest.build(Seq(root), Map("sine" -> src))(root)
      .select(col("ts_us"), col("label_mid_price"), col("mid_price"),
        col("volatility_volatility").as("volatility"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map { case (k, d) => k -> d.build }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    allDefs.map { case (k, d) => k -> d.oracle }
}
