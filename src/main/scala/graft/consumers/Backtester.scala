package graft.consumers

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.functions.col

/** Backtest loop + execution simulator (svoe `backtester/loop/loop.py:
  * 49-77`, `execution/execution_simulator.py:18-181`, §3.3): drive a
  * strategy over the point-in-time-joined FeatureLabelSet in event-time
  * order, filling orders at the current mid price with commission.
  *
  * The sequential loop is sequential by nature (portfolio state), so it
  * consumes `toLocalIterator` — one partition streamed at a time, never
  * a full collect. The distributed variant shards the time range
  * (reference `split_featurizer_config`, config.py:33-48): each shard
  * runs an independent portfolio over a contiguous time slice via
  * `repartitionByRange` + `mapPartitions`, returning per-shard results.
  */
object Backtester {

  final case class Trade(tsUs: Long, qty: Double, price: Double, commission: Double)

  final case class Result(
      nTrades: Long,
      finalCash: Double,
      finalPosition: Double,
      finalEquity: Double,
      commissionPaid: Double,
      lastPrice: Double)

  /** A strategy maps one event row to a target position (signed qty). */
  type Strategy = Row => Double

  final class Simulator(initialCash: Double, commissionRate: Double) {
    var cash: Double = initialCash
    var position: Double = 0.0
    var nTrades: Long = 0L
    var commissionPaid: Double = 0.0

    def step(tsUs: Long, price: Double, target: Double): Option[Trade] = {
      val qty = target - position
      if (qty == 0.0) None
      else {
        val commission = math.abs(qty) * price * commissionRate
        cash -= qty * price + commission
        commissionPaid += commission
        position = target
        nTrades += 1
        Some(Trade(tsUs, qty, price, commission))
      }
    }

    def result(lastPrice: Double): Result =
      Result(nTrades, cash, position, cash + position * lastPrice,
        commissionPaid, lastPrice)
  }

  private def runLoop(rows: Iterator[Row], tsIdx: Int, priceIdx: Int,
      strategy: Strategy, initialCash: Double, commissionRate: Double): Result = {
    val sim = new Simulator(initialCash, commissionRate)
    var lastPrice = 0.0
    rows.foreach { r =>
      if (!r.isNullAt(priceIdx)) {
        val ts = r.getLong(tsIdx)
        lastPrice = r.getDouble(priceIdx)
        sim.step(ts, lastPrice, strategy(r))
      }
    }
    sim.result(lastPrice)
  }

  /** The replay order: ts, then every other orderable column in schema
    * order. Rows sharing a ts would otherwise replay in whatever order
    * the input partitions deliver them, and the portfolio path (trade
    * count included) would depend on partitioning. Rows that tie on
    * every orderable column differ at most in unorderable ones (maps). */
  private def replayOrder(fls: DataFrame, tsCol: String): Seq[Column] =
    col(tsCol) +: fls.schema.fields.toSeq
      .filter(f => f.name != tsCol && RowOrdering.isOrderable(f.dataType))
      .map(f => fls.col(s"`${f.name.replace("`", "``")}`"))

  /** Sequential backtest over the whole frame in [[replayOrder]]: the
    * result does not depend on how `fls` is partitioned. */
  def run(fls: DataFrame, tsCol: String, priceCol: String, strategy: Strategy,
      initialCash: Double = 0.0, commissionRate: Double = 0.001): Result = {
    val ordered = fls.orderBy(replayOrder(fls, tsCol): _*)
    val tsIdx = fls.columns.indexOf(tsCol)
    val priceIdx = fls.columns.indexOf(priceCol)
    import scala.jdk.CollectionConverters._
    runLoop(ordered.toLocalIterator().asScala, tsIdx, priceIdx, strategy,
      initialCash, commissionRate)
  }

  final case class TradeRow(instrument: String, ts_us: Long, seq: Long,
      qty: Double, price: Double, commission: Double, cash: Double,
      position: Double)

  /** Distributed per-key backtest emitting the full TRADE LOG: one
    * independent portfolio per key (the reference's config-splitting
    * shard idea applied across instruments, `config.py:33-48`),
    * executed in the same secondary-sort fold shape as `L2Book.replay`
    * — one exchange on the key, `sortWithinPartitions(key, ts, seq)`,
    * one `mapPartitions` walking each key run with a [[Simulator]].
    * Parallelism = #keys; per-key state is two doubles — no driver
    * loop, no collect. The declared target column IS the strategy
    * (precomputed as an expression so the fold stays a pure replay —
    * any Row=>Double strategy can be expressed upstream as columns).
    * Rows with null price are skipped (the sequential loop's guard).
    * Every arithmetic step is the simulator's own, in row order, so an
    * exact state-replay oracle reproduces the log bit-for-bit. */
  def runKeyedTrades(fls: DataFrame, keyCol: String, tsCol: String,
      seqCol: String, priceCol: String, targetCol: String,
      initialCash: Double = 0.0, commissionRate: Double = 0.001): DataFrame = {
    val spark = fls.sparkSession
    import spark.implicits._
    fls.filter(col(priceCol).isNotNull)
      .select(col(keyCol).cast("string").as("k"),
        col(tsCol).cast("long").as("ts"), col(seqCol).cast("long").as("seq"),
        col(priceCol).cast("double").as("price"),
        col(targetCol).cast("double").as("target"))
      .repartition(col("k"))
      .sortWithinPartitions("k", "ts", "seq")
      .as[(String, Long, Long, Double, Double)]
      .mapPartitions { iter =>
        var cur: String = null
        var sim: Simulator = null
        iter.flatMap { case (k, ts, seq, price, target) =>
          if (k != cur) {
            cur = k
            sim = new Simulator(initialCash, commissionRate)
          }
          sim.step(ts, price, target) match {
            case Some(t) => Iterator.single(TradeRow(k, ts, seq, t.qty,
              price, t.commission, sim.cash, sim.position))
            case None => Iterator.empty
          }
        }
      }
      .toDF()
  }

  /** Time-sharded distributed backtest: `shards` contiguous time slices
    * each running an independent portfolio (reference remote path). */
  def runSharded(fls: DataFrame, tsCol: String, priceCol: String,
      strategy: Strategy, shards: Int, initialCash: Double = 0.0,
      commissionRate: Double = 0.001): Seq[Result] = {
    val tsIdx = fls.columns.indexOf(tsCol)
    val priceIdx = fls.columns.indexOf(priceCol)
    // equal ts values land in one range partition, so the within-
    // partition replay order is the sequential loop's
    fls.repartitionByRange(shards, col(tsCol))
      .sortWithinPartitions(replayOrder(fls, tsCol): _*)
      .rdd
      .mapPartitions(rows => Iterator.single(
        runLoop(rows, tsIdx, priceIdx, strategy, initialCash, commissionRate)))
      .collect().toSeq
  }
}
