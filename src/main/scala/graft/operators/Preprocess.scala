package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StructField}

/** P4 source preprocessing (svoe `cryptofeed_l2_book_incremental.py:
  * 22-50`, `cryptotick utils.py:6-14`): rename/normalize raw columns
  * and group rows sharing (timestamp[, discriminator]) into one event
  * with a nested `orders` array — the reference's pandas groupby that
  * took "4-5 min per 5 GB" is a single `collect_list(struct)` hash
  * aggregation here (map-side combinable, no window).
  *
  * Plus O2's ts-monotonicity QA assertion (svoe `df_utils.py:93-94`),
  * expressed as a distributed emptiness check instead of a driver scan.
  */
object Preprocess {

  /** Group equal-(keys) rows into one event carrying a nested, sorted
    * `orders` array of the given struct fields. Sorting the collected
    * array by all fields makes the nested value deterministic under any
    * partitioning (collect_list order is not). */
  def groupNested(df: DataFrame, keys: Seq[Column],
      orderFields: Seq[Column]): DataFrame =
    df.groupBy(keys: _*)
      .agg(sort_array(collect_list(struct(orderFields: _*))).as("orders"),
        count(lit(1)).as("n_orders"))

  /** O2 sortedness QA: violations of "ts is non-decreasing when
    * traversed in `seq` order per key" (svoe `df_utils.py:93-94`).
    * The order MUST come from an independent sequence column — ordering
    * the window by ts itself would make the check vacuously pass. */
  def tsViolationsBySeq(df: DataFrame, ts: Column, seq: Column,
      by: Seq[Column]): Long = {
    val w = Window.partitionBy(by: _*).orderBy(seq.asc)
    df.select(ts.as("__ts"), lag(ts, 1).over(w).as("__prev"))
      .filter(col("__prev") > col("__ts")).count()
  }

  /** Per-key report variant of [[tsViolationsBySeq]] — the QA frame a
    * pipeline materializes (one row per key: violation + row counts),
    * oracle-comparable since counts are exact integers. */
  def tsViolationsBySeqReport(df: DataFrame, ts: Column, seq: Column,
      by: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(by: _*).orderBy(seq.asc)
    df.select((by :+ ts.as("__ts") :+ lag(ts, 1).over(w).as("__prev")): _*)
      .groupBy(by: _*)
      .agg(sum(when(col("__prev") > col("__ts"), 1L).otherwise(0L))
          .as("n_violations"),
        count(lit(1)).as("n_rows"))
  }

  /** Sliding-window population stddev by the batch runner of
    * [[KeyedFold.stddevPop]]: the declarative range frame
    * (WindowOps.volatility) re-evaluates its aggregate per row through
    * Spark's window machinery (O(n*w) with a heavy constant); the fold
    * computes the same quantity over an explicit window after the same
    * single shuffle + sort, two-pass per emission, so the 4dp-rounded
    * results agree with the declarative/DuckDB formulations.
    *
    * Input must carry a Long `okeyCol` (total order key); the window is
    * `[okey - rangeUnits, okey]`, inclusive, matching rangeBetween.
    */
  def slidingStddevPop(df: DataFrame, okeyCol: String, valueCol: String,
      rangeUnits: Long, by: Seq[String], outCol: String): DataFrame =
    KeyedFold.runFrame(df, by, Seq(StructField(outCol, DoubleType, nullable = false)),
      KeyedFold.stddevPop(KeyedFold.rowLong(df, okeyCol),
        KeyedFold.rowDouble(df, valueCol), rangeUnits)(KeyedFold.plus(_, _)))

  /** Sliding-window trade-volume imbalance 2*(b-s)/(b+s) (null when
    * b+s = 0) by the batch runner of [[KeyedFold.tvi]] — the scale
    * default for ev_tvi_24h's range frame. Inputs must be the per-row
    * buy/sell contributions in exact cents (integer-valued doubles):
    * sums of integers under 2^53 are exact in any order, so the fold
    * equals the declarative windowed-sum formulation cell-for-cell. */
  def slidingTvi(df: DataFrame, okeyCol: String, buyCol: String,
      sellCol: String, rangeUnits: Long, by: Seq[String],
      outCol: String): DataFrame =
    KeyedFold.runFrame(df, by, Seq(StructField(outCol, DoubleType, nullable = true)),
      KeyedFold.tvi(KeyedFold.rowLong(df, okeyCol), KeyedFold.rowDouble(df, buyCol),
        KeyedFold.rowDouble(df, sellCol), rangeUnits)(
        (r, v) => KeyedFold.plus(r, v.map(Double.box).orNull)))

  /** INCREMENTAL sliding stddev over cents-quantized values — the
    * dense-window scale variant ([[KeyedFold.stddevCents]]). The
    * two-pass fold above re-scans its window per emission: O(n·w) —
    * fine when windows hold hundreds of rows, quadratic when a hot
    * key's window density explodes (the sf10-equivalent probe measured
    * 32s vs sf0.1's 0.55s for `ev_volatility_24h`: 100x rows in the
    * SAME time span = 100x denser windows; SCALE.md "window fold
    * density"). This variant maintains running (n, sum, sum-of-squares)
    * — O(1) amortized per row, O(n) total.
    *
    * Exactness: incremental add/REMOVE of raw doubles drifts, so the
    * input is quantized to integer cents (`round(v*100)` — the natural
    * discrete-price semantics); integer-valued-double sums are exact
    * in any order and under removal (below 2^53, i.e. while
    * window_rows * max_cents^2 < 9e15). Output rounded 4dp like the
    * other genuinely-fp aggregates. `chunkUnits > 0` runs the
    * time-chunked harness of [[KeyedFold.runFrame]]; `assumeSorted` its
    * layout elision (PreprocessSpec pins both equal to the sorting
    * path). */
  def slidingStddevCentsIncremental(df: DataFrame, okeyCol: String,
      centsCol: String, rangeUnits: Long, by: Seq[String],
      outCol: String, chunkUnits: Long = 0L,
      assumeSorted: Boolean = false): DataFrame = {
    val c = df.schema.fieldIndex(centsCol)
    KeyedFold.runFrame(df, by, Seq(StructField(outCol, DoubleType, nullable = false)),
      KeyedFold.stddevCents(KeyedFold.rowLong(df, okeyCol), (r: Row) => r.getDouble(c),
        rangeUnits)(KeyedFold.plus(_, _)),
      assumeSorted, chunk(okeyCol, rangeUnits, chunkUnits))
  }

  private def chunk(okeyCol: String, rangeUnits: Long, chunkUnits: Long) =
    if (chunkUnits > 0) Some((okeyCol, rangeUnits, chunkUnits)) else None

  /** EXACT z-score anomaly flags by the batch runner of
    * [[KeyedFold.anomaly]], the PURE-INTEGER decision rule of
    * [[graft.operators.WindowOps.anomalyExactFlag]]:
    * (n·x − s)² > z²·(n·ss − s²) over Long cents, running (n, s, ss)
    * maintained as rows enter and leave the window — O(1)/row where
    * the declarative RANGE frame re-scans its window per row (Spark's
    * WindowExec has no sliding-aggregate incrementalization: measured
    * 14.7s vs sub-second at sf0.1, the ev_volatility_24h lesson
    * replayed). Appends (n BIGINT, is_anomaly INT); equal-okey runs
    * are peers — every row of a run sees the whole run, exactly like
    * the SQL frame. Same overflow bound as the declarative twin
    * (n·maxCents bounded so the squares stay under 2^63); chunkUnits
    * adds the time-chunked parallelism for low-cardinality keys. */
  def anomalyExactFold(df: DataFrame, okeyCol: String, centsCol: String,
      rangeUnits: Long, by: Seq[String], z: Int,
      chunkUnits: Long = 0L): DataFrame = {
    require(rangeUnits > 0 && z > 0, s"bad anomaly knobs ($rangeUnits, $z)")
    val c = df.schema.fieldIndex(centsCol)
    KeyedFold.runFrame(df, by,
      Seq(StructField("n", LongType, nullable = false),
        StructField("is_anomaly", IntegerType, nullable = false)),
      KeyedFold.anomaly(KeyedFold.rowLong(df, okeyCol), (r: Row) => r.getLong(c),
        rangeUnits, z)(KeyedFold.plus(_, _, _)),
      chunk = chunk(okeyCol, rangeUnits, chunkUnits))
  }

  /** A6 elapsed-time throttle (svoe `stream_utils.py:12-24`,
    * `l2_snapshot_fd.py:67-77`) by the batch runner of
    * [[KeyedFold.throttle]]: emit a row only if at least `windowUs`
    * elapsed since the last EMITTED row of its key — path-dependent,
    * so not a window function. `seq` completes the total order: of
    * rows sharing a ts, the lowest `seq` is the one that can emit. The
    * reference mixes this with bucket sampling; bucket sampling
    * (WindowOps.sampleBucket) is our canonical deterministic variant,
    * this is the faithful stateful one.
    */
  def throttleElapsed(df: DataFrame, tsUs: String, windowUs: Long,
      by: Seq[String], seq: String): DataFrame =
    KeyedFold.runFrame(df, by, Nil, KeyedFold.throttle(
      KeyedFold.rowLong(df, tsUs), KeyedFold.rowLong(df, seq), windowUs))
}
