package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.{AsofJoin, Preprocess, WindowOps}

/** Built-in feature definitions binding the operator library into the
  * declarative forest (the reference's `features/definitions` catalog
  * re-expressed as `FeatureDef`s). Params are string-typed as in the
  * reference's YAML config surface.
  *
  * Common params: `ts` (epoch-micros column), `seq` (total-order
  * tiebreak column), `by` (comma-separated key columns, optional).
  */
object BuiltinDefs {

  private def byCols(params: Map[String, String]): Seq[Column] =
    params.get("by").toSeq.flatMap(_.split(',').filter(_.nonEmpty)).map(col)

  private def byNames(params: Map[String, String]): Seq[String] =
    params.get("by").toSeq.flatMap(_.split(',').filter(_.nonEmpty))

  /** Total-order key: the `seq` tiebreak defaults to `ts` itself when a
    * config omits it (ties then resolve arbitrarily-but-deterministically
    * only if ts is unique — supply `tie` for duplicate timestamps). */
  private def okeyOf(params: Map[String, String]): Column =
    WindowOps.orderKey(col(params("ts")),
      col(params.getOrElse("seq", params("ts"))))

  /** A sliding feature's node: the key, `ts` (and `seq`) columns plus
    * the fold's `inputs` and the order key `__okey`, run through
    * `fold(frame, keyNames, rangeUnits)` — a [[graft.operators.KeyedFold]]
    * batch runner over the `lookback_us` RANGE window of
    * [[WindowOps.sliding]] — and cut back to key, ts, seq and `out`. A
    * config without `by` runs as one key through a constant key column
    * (an empty `repartition()` would round-robin the rows). The fold
    * sums each window once per run in a primitive loop, where Spark's
    * sliding RANGE frame re-aggregates the whole frame for every row
    * through its window machinery (O(n·w) with a heavy constant). */
  private def slidingNode(df: DataFrame, params: Map[String, String],
      inputs: Seq[Column], out: String)(
      fold: (DataFrame, Seq[String], Long) => DataFrame): DataFrame = {
    val seqCol = params.get("seq").filterNot(_ == params("ts")).map(col).toSeq
    val keep = byCols(params) ++ (col(params("ts")) +: seqCol)
    val (key, keyCol) =
      if (byNames(params).nonEmpty) (byNames(params), Nil)
      else (Seq("__key"), Seq(lit(0).as("__key")))
    fold(df.select((keep ++ keyCol ++ inputs :+ okeyOf(params).as("__okey")): _*),
        key, params("lookback_us").toLong * 1000L)
      .select((keep :+ col(out)): _*)
  }

  /** A2: sliding population stddev of `value` over `lookback_us`
    * ([[WindowOps.volatility]]'s semantics, null values included).
    * The `seq` order key passes through the output so a downstream PIT
    * join can break equal-ts ties deterministically (pandas merge_asof
    * takes the last sorted right row; without the key, `last()` over
    * tie=0 rows would be partition-order-dependent). */
  object VolatilityDef extends FeatureDef {
    val name = "volatility"
    def transform(deps: Seq[DataFrame], params: Map[String, String]): DataFrame =
      slidingNode(deps.head, params,
          Seq(col(params("value")).cast("double").as("__v")), "volatility") {
        (in, key, units) =>
          Preprocess.slidingStddevPop(in, "__okey", "__v", units, key, "volatility")
      }
  }

  /** A1: OHLCV per tumbling `window_us` bucket. */
  object OhlcvDef extends FeatureDef {
    val name = "ohlcv"
    def transform(deps: Seq[DataFrame], params: Map[String, String]): DataFrame = {
      val df = deps.head
      val okey = okeyOf(params)
      WindowOps.ohlcv(df, col(params("ts")), okey, col(params("price")),
        col(params("amount")), params("window_us").toLong, byCols(params))
    }
  }

  /** J3: lookahead label shift by `delta_us`. */
  object LookaheadLabelDef extends FeatureDef {
    val name = "lookahead_label"
    def transform(deps: Seq[DataFrame], params: Map[String, String]): DataFrame =
      AsofJoin.lookaheadShift(deps.head, params("ts"),
        params("delta_us").toLong, byNames(params), "label",
        params.get("tie"))
  }

  /** P6 as a forest node (svoe `price/mid_price_fd/mid_price_fd.py:
    * 24-58`): mid price from an L2 snapshot frame (`bids`/`asks`
    * arrays of (price, size) structs, column names overridable via
    * params). Carries ts (+ optional seq tie) through like
    * [[VolatilityDef]] so downstream features can chain. */
  object MidPriceDef extends FeatureDef {
    val name = "mid_price"
    def transform(deps: Seq[DataFrame], params: Map[String, String]): DataFrame = {
      val df = deps.head
      val seqCol = params.get("seq").filterNot(_ == params("ts")).map(col).toSeq
      df.select((byCols(params) ++ (col(params("ts")) +: seqCol) :+
        graft.operators.L2Book.midPrice(
          col(params.getOrElse("bids", "bids")),
          col(params.getOrElse("asks", "asks"))).as("mid_price")): _*)
    }
  }

  /** P7 as a forest node (svoe `spread/relative_bid_ask_spread_fd`):
    * relative bid-ask spread from an L2 snapshot frame. */
  object RelSpreadDef extends FeatureDef {
    val name = "rel_spread"
    def transform(deps: Seq[DataFrame], params: Map[String, String]): DataFrame = {
      val df = deps.head
      val seqCol = params.get("seq").filterNot(_ == params("ts")).map(col).toSeq
      df.select((byCols(params) ++ (col(params("ts")) +: seqCol) :+
        graft.operators.L2Book.relSpread(
          col(params.getOrElse("bids", "bids")),
          col(params.getOrElse("asks", "asks"))).as("spread")): _*)
    }
  }

  /** A4 as a forest node (svoe `l2_book/l2_snapshot_fd`): the L2 book
    * replay over an updates frame (`instrument, ts_us, seq,
    * update_type, side, price, size`). Params: `depth` (default 20),
    * optional `sampling_us` (the reference's `sampling: 1s`,
    * normalized by the config front door's duration grammar). */
  object L2SnapshotDef extends FeatureDef {
    val name = "l2_snapshot"
    def transform(deps: Seq[DataFrame], params: Map[String, String]): DataFrame =
      graft.operators.L2Book.replay(deps.head,
        depth = params.getOrElse("depth", "20").toInt,
        samplingUs = params.get("sampling_us").map(_.toLong)).toDF()
  }

  /** A3 as a forest node (svoe `tvi/trade_volume_imb_fd`): sliding
    * trade-volume imbalance of `notional` keyed by the boolean
    * `is_buy` column over `lookback_us` ([[WindowOps.tvi]]'s
    * semantics). A row with a null notional or a null `is_buy` adds 0
    * to both sides, which equals the window's null-skipping sums: a
    * side sums to null only when every row is null on it, and then the
    * other side sums to 0, so both forms give null. */
  object TviDef extends FeatureDef {
    val name = "tvi"
    def transform(deps: Seq[DataFrame], params: Map[String, String]): DataFrame = {
      val notional = col(params("notional")).cast("double")
      val isBuy = col(params("is_buy"))
      slidingNode(deps.head, params,
          Seq(coalesce(when(isBuy, notional), lit(0.0)).as("__buy"),
            coalesce(when(!isBuy, notional), lit(0.0)).as("__sell")), "tvi") {
        (in, key, units) =>
          Preprocess.slidingTvi(in, "__okey", "__buy", "__sell", units, key, "tvi")
      }
    }
  }

  /** A5 as a forest node (svoe `transforms/diff/diff.py`): relative
    * diff (last-first)/first of `value` over `lookback_us`. */
  object DiffDef extends FeatureDef {
    val name = "diff"
    def transform(deps: Seq[DataFrame], params: Map[String, String]): DataFrame = {
      val df = deps.head
      val okey = okeyOf(params)
      val seqCol = params.get("seq").filterNot(_ == params("ts")).map(col).toSeq
      df.select((byCols(params) ++ (col(params("ts")) +: seqCol) :+
        graft.operators.WindowOps.relDiff(col(params("value")),
          byCols(params), okey, params("lookback_us").toLong).as("diff")): _*)
    }
  }

  /** J1 root: point-in-time join of feature frames onto the label
    * frame (deps.head). `names` = comma-separated feature prefixes for
    * deps.tail. */
  object PitJoinDef extends FeatureDef {
    val name = "pit_join"
    def transform(deps: Seq[DataFrame], params: Map[String, String]): DataFrame = {
      val names = params("names").split(',').toSeq
      val joined = AsofJoin.pointInTimeJoin(deps.head, names.zip(deps.tail),
        params("ts"), byNames(params), params.get("tie"))
      // the tie column rode along through feature frames purely to
      // order equal-ts rows — drop its prefixed copies from the
      // user-facing FeatureLabelSet schema
      params.get("tie") match {
        case Some(t) => joined.drop(names.map(n => s"${n}_$t"): _*)
        case None => joined
      }
    }
  }
}
