package lifebench

import java.nio.file.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{BuiltinDefs, Feature, FeatureDef, Forest, SourceDef}
import graft.sources.{BlockCatalog, Ingest}
import graft.consumers.{Backtester, Trainer}

/** An OHLCV bar re-keyed to the last microsecond of its bucket, so a
  * point-in-time join sees a bar only once it has closed. */
object BarCloseDef extends FeatureDef {
  val name = "bar_close"
  def transform(deps: Seq[DataFrame], params: Map[String, String]): DataFrame =
    deps.head.withColumn("ts_us", col("bucket_us") + lit(params("window_us").toLong - 1))
      .drop("bucket_us")
}

/** The offline svoe lifecycle with few and large calls: raw CSV to
  * cataloged blocks, a catalog scan through the feature forest to a
  * FeatureLabelSet, a boosted fit and a keyed backtest. */
final class ResearchLoop extends Workload {
  val Instruments = 8
  val EventsPerInstrument = 12000
  val LookbackUs = 1000000L
  val BarUs = 2000000L
  val AheadUs = 500000L
  val Depth = 5
  val Rounds = 2
  val TreeDepth = 2
  val Commission = 0.001
  val FeatureCols = Seq("f_vol", "f_tvi", "f_mom", "f_mid", "f_spr")

  private var market: Market = _
  private var tradesCsv = ""
  private var bookCsv = ""
  private var rowsPerBlock = 0L
  // outputs of the last checked pass, kept for the self-test only, so a
  // timed pass's live heap does not hold the previous pass's outputs
  private var keep = false
  private var lastScan: Seq[String] = Nil
  private var lastFls: Seq[Row] = Nil
  private var lastBt: Seq[(String, Long, Long, Double, Double)] = Nil

  def generate(spark: SparkSession, dir: Path, seed: Long, tiny: Boolean): Unit = {
    keep = tiny
    market = Gen.market(seed, if (tiny) 2 else Instruments,
      if (tiny) 1500 else EventsPerInstrument, 10000L)
    rowsPerBlock = math.max(1000L, market.trades.length / 4L)
    tradesCsv = dir.resolve("raw/trades.csv").toString
    bookCsv = dir.resolve("raw/book.csv").toString
    Gen.writeTradesCsv(market.trades, dir.resolve("raw/trades.csv"))
    Gen.writeBookCsv(market.book, dir.resolve("raw/book.csv"))
  }

  private val tr = Feature(SourceDef("trades"))
  private val px = Feature(SourceDef("trades_px"))
  private val bk = Feature(SourceDef("book"))
  private def keyed(extra: (String, String)*) =
    Map("ts" -> "ts_us", "seq" -> "seq", "by" -> "instrument") ++ extra
  private val volF = Feature(BuiltinDefs.VolatilityDef,
    keyed("value" -> "price", "lookback_us" -> LookbackUs.toString), Seq(tr))
  private val tviF = Feature(BuiltinDefs.TviDef,
    keyed("notional" -> "notional", "is_buy" -> "is_buy",
      "lookback_us" -> LookbackUs.toString), Seq(tr))
  private val barF = Feature(BarCloseDef, Map("window_us" -> BarUs.toString),
    Seq(Feature(BuiltinDefs.OhlcvDef,
      keyed("price" -> "price", "amount" -> "amount", "window_us" -> BarUs.toString),
      Seq(tr))))
  private val l2F = Feature(BuiltinDefs.L2SnapshotDef, Map("depth" -> Depth.toString), Seq(bk))
  private val midF = Feature(BuiltinDefs.MidPriceDef,
    Map("ts" -> "ts_us", "by" -> "instrument"), Seq(l2F))
  private val sprF = Feature(BuiltinDefs.RelSpreadDef,
    Map("ts" -> "ts_us", "by" -> "instrument"), Seq(l2F))
  private val labelF = Feature(BuiltinDefs.LookaheadLabelDef,
    Map("ts" -> "ts_us", "delta_us" -> AheadUs.toString, "by" -> "instrument",
      "tie" -> "seq"), Seq(px))
  private val flsF = Feature(BuiltinDefs.PitJoinDef,
    Map("names" -> "vol,tvi,bar,mid,spr", "ts" -> "ts_us", "by" -> "instrument",
      "tie" -> "seq"), Seq(labelF, volF, tviF, barF, midF, sprF))

  private def sources(trades: DataFrame, book: DataFrame): Map[String, DataFrame] = {
    val t = trades.select(Schemas.cols(Schemas.Trades) :+ col("notional"): _*)
    Map("trades" -> t,
      "trades_px" -> t.select("instrument", "ts_us", "seq", "price"),
      "book" -> book.select(Schemas.cols(Schemas.Book): _*))
  }

  private def trainFrame(fls: DataFrame): DataFrame = {
    def bps(c: Column) = round(c / col("price") * 1e4)
    fls.select(col("instrument"), col("ts_us"), col("seq"), col("price"),
        bps(col("vol_volatility")).as("f_vol"),
        round(col("tvi_tvi") * 10).as("f_tvi"),
        bps(col("price") - col("bar_close")).as("f_mom"),
        bps(col("price") - col("mid_mid_price")).as("f_mid"),
        round(col("spr_spread") * 1e4).as("f_spr"),
        least(greatest(bps(col("label_price") - col("price")) + 50, lit(0.0)), lit(100.0))
          .as("y"))
      .na.drop()
  }

  private def target(pred: Column): Column =
    when(pred > 50, 1.0).when(pred < 50, -1.0).otherwise(0.0)

  def pass(p: Pass): Unit = {
    val spark = p.spark
    val cat = new BlockCatalog(spark, p.path("catalog"))
    val norm: DataFrame => DataFrame = _.withColumn("notional", col("price") * col("amount"))
    p.call("sources.ingest") {
      Ingest.ingestCsv(spark, tradesCsv, Schemas.Trades, norm, cat, "trades", "all",
        "ts_us", rowsPerBlock)
    }
    p.call("sources.ingest") {
      Ingest.ingestCsv(spark, bookCsv, Schemas.Book, identity, cat, "book", "all",
        "ts_us", rowsPerBlock)
    }
    // the whole generated day
    val lo = Gen.BaseUs
    val hi = lo - lo % 86400000000L + 86399999999L
    val trades = p.call("sources.scan_build") { cat.scan("trades", "all", lo, hi) }
    val book = p.call("sources.scan_build") { cat.scan("book", "all", lo, hi) }
    val built = p.call("core.forest_build") { Forest.build(Seq(flsF), sources(trades, book)) }
    val flsPath = p.path("fls")
    p.call("operators.fls_action") { built(flsF).write.parquet(flsPath) }
    p.counts("core.persisted_nodes") = spark.sparkContext.getPersistentRDDs.size.toDouble
    val model = p.call("consumers.train") {
      Trainer.fitBoosted(trainFrame(spark.read.parquet(flsPath)), FeatureCols, "y",
        Rounds, TreeDepth)
    }
    val log = p.call("consumers.backtest") {
      val bt = trainFrame(spark.read.parquet(flsPath))
        .withColumn("target", target(model.predictColumn))
      Backtester.runKeyedTrades(bt, "instrument", "ts_us", "seq", "price", "target",
        commissionRate = Commission).collect()
    }
    p.counts ++= Layers.catalogSizes(p.dir.resolve("catalog"))
    p.callsDone()
    if (p.check) {
      val c = p.checks
      val scanned = trades.select(Schemas.cols(Schemas.Trades): _*).collect()
        .map(Schemas.rowKey).toSeq
      checkScan(c, scanned, book.select(Schemas.cols(Schemas.Book): _*).collect()
        .map(Schemas.rowKey).toSeq)
      c("scan: notional is price * amount")(trades.filter(
        col("notional") =!= col("price") * col("amount")).isEmpty)
      val fls = spark.read.parquet(flsPath).collect().toSeq
      checkFls(c, fls)
      val side = Forest.build(Seq(volF, barF), sources(trades, book))
      checkOperators(c, side(volF).collect().toSeq, side(barF).collect().toSeq)
      val rows = trainFrame(spark.read.parquet(flsPath)).collect().toSeq
      val x = rows.map(r => FeatureCols.map(f => r.getAs[Double](f)).toArray)
      val y = rows.map(_.getAs[Double]("y"))
      val sse = x.zip(y).map { case (f, v) => val d = v - model.predictUnits(f); d * d }.sum
      val mean = y.sum / y.size
      val sse0 = y.map(v => (v - mean) * (v - mean)).sum
      c("train: boosted SSE no worse than the constant mean")(sse <= sse0, s"$sse > $sse0")
      val bt = rows.zip(x).map { case (r, f) =>
        val pred = model.predictUnits(f)
        (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          if (pred > 50) 1.0 else if (pred < 50) -1.0 else 0.0)
      }
      val got = log.toSeq.map(r => Oracle.Fill(r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6), r.getDouble(7)))
      checkBacktest(c, bt, got)
      if (keep) { lastScan = scanned; lastFls = fls; lastBt = bt }
    }
  }

  private def checkScan(c: Checks, trades: Seq[String], book: Seq[String]): Unit = {
    c("scan: trades multiset")(trades.sorted == market.trades.map(Schemas.tradeKey).toSeq.sorted,
      s"${trades.size} rows vs ${market.trades.length}")
    c("scan: book multiset")(book.sorted == market.book.map(Schemas.bookKey).toSeq.sorted,
      s"${book.size} rows vs ${market.book.length}")
  }

  private def opt(r: Row, f: String): Option[Double] = {
    val i = r.fieldIndex(f)
    if (r.isNullAt(i)) None else Some(r.getDouble(i))
  }

  private def same(a: Option[Double], b: Option[Double]): Boolean = (a, b) match {
    case (Some(x), Some(y)) => Oracle.close(x, y)
    case (None, None) => true
    case _ => false
  }

  /** Every PIT value is the latest one at or before the row's ts, and
    * every label the lookahead value, all recomputed from the arrays. */
  private def checkFls(c: Checks, fls: Seq[Row]): Unit = {
    val vol = Oracle.volatility(market.trades, LookbackUs)
    val tvi = Oracle.tvi(market.trades, LookbackUs)
    val bars = Oracle.bars(market.trades, BarUs).groupBy(_.instrument)
      .map { case (k, v) => k -> v.toArray }
    val barClose = bars.map { case (k, v) => k -> v.map(_.bucketUs + BarUs - 1) }
    val snaps = Oracle.l2Snapshots(market.book, Depth).groupBy(_._1)
      .map { case (k, v) => k -> v.toArray }
    val snapTs = snaps.map { case (k, v) => k -> v.map(_._2) }
    val byInst = market.trades.groupBy(_.instrument).map { case (k, v) =>
      k -> v.sortBy(t => (t.tsUs, t.seq)) }
    val tsOf = byInst.map { case (k, v) => k -> v.map(_.tsUs) }
    val expectedRows = byInst.values.map { ts =>
      ts.count(_.tsUs <= ts.last.tsUs - AheadUs) }.sum
    c("fls: one row per labelled trade")(fls.size == expectedRows, s"${fls.size} vs $expectedRows")
    var bad = 0
    var firstBad = ""
    fls.foreach { r =>
      val inst = r.getAs[String]("instrument")
      val ts = r.getAs[Long]("ts_us")
      val trs = byInst(inst)
      val tsArr = tsOf(inst)
      val me = trs(Oracle.lastAtOrBefore(tsArr, ts))
      val lab = trs(Oracle.lastAtOrBefore(tsArr, ts + AheadUs))
      val bs = bars.getOrElse(inst, Array.empty)
      val bi = Oracle.lastAtOrBefore(barClose.getOrElse(inst, Array.empty), ts)
      val ss = snaps.getOrElse(inst, Array.empty)
      val si = Oracle.lastAtOrBefore(snapTs.getOrElse(inst, Array.empty), ts)
      val (bid, ask) = if (si < 0) (None, None)
        else (ss(si)._3.headOption.map(_._1), ss(si)._4.headOption.map(_._1))
      val mid = for (b <- bid; a <- ask) yield (b + a) / 2
      val spr = for (b <- bid; a <- ask if a + b != 0.0) yield math.abs(a - b) * 2 / (a + b)
      val barOk = if (bi < 0) r.isNullAt(r.fieldIndex("bar_close")) else {
        val b = bs(bi)
        opt(r, "bar_open").contains(b.open) && opt(r, "bar_close").contains(b.close) &&
          opt(r, "bar_high").contains(b.high) && opt(r, "bar_low").contains(b.low) &&
          same(opt(r, "bar_volume"), Some(b.volume)) && same(opt(r, "bar_vwap"), Some(b.vwap)) &&
          r.getAs[Long]("bar_num_trades") == b.numTrades
      }
      val diffs = Seq(
        "label" -> (r.getAs[Double]("label_price") == lab.price &&
          r.getAs[Long]("label_seq") == lab.seq),
        "vol" -> same(opt(r, "vol_volatility"), vol.get((inst, me.seq))),
        "tvi" -> same(opt(r, "tvi_tvi"), tvi((inst, me.seq))), "bar" -> barOk,
        "mid" -> same(opt(r, "mid_mid_price"), mid),
        "spread" -> same(opt(r, "spr_spread"), spr)).collect { case (n, false) => n }
      if (diffs.nonEmpty) {
        bad += 1
        if (firstBad.isEmpty) firstBad = s"${diffs.mkString(",")} at $r (want mid $mid, " +
          s"spread $spr, label ${lab.seq}@${lab.price}, vol ${vol.get((inst, me.seq))})"
      }
    }
    c("fls: PIT features and lookahead labels")(bad == 0, s"$bad rows differ, first $firstBad")
  }

  /** Volatility and OHLCV of two sampled instruments against a plain recomputation. */
  private def checkOperators(c: Checks, volRows: Seq[Row], barRows: Seq[Row]): Unit = {
    val sample = market.instruments.take(2).toSet
    val vol = Oracle.volatility(market.trades, LookbackUs)
    val vs = volRows.filter(r => sample(r.getAs[String]("instrument")))
    c("operators: volatility")(vs.size == market.trades.count(t => sample(t.instrument)) &&
      vs.forall(r => same(opt(r, "volatility"),
        vol.get((r.getAs[String]("instrument"), r.getAs[Long]("seq"))))))
    val bars = Oracle.bars(market.trades, BarUs).filter(b => sample(b.instrument))
    val got = barRows.filter(r => sample(r.getAs[String]("instrument")))
      .sortBy(r => (r.getAs[String]("instrument"), r.getAs[Long]("ts_us")))
    c("operators: ohlcv")(got.size == bars.size && got.zip(bars).forall { case (r, b) =>
      r.getAs[Long]("ts_us") == b.bucketUs + BarUs - 1 && r.getAs[Double]("open") == b.open &&
        r.getAs[Double]("high") == b.high && r.getAs[Double]("low") == b.low &&
        r.getAs[Double]("close") == b.close && Oracle.close(r.getAs[Double]("volume"), b.volume) &&
        Oracle.close(r.getAs[Double]("vwap"), b.vwap) && r.getAs[Long]("num_trades") == b.numTrades
    })
  }

  private def checkBacktest(c: Checks, bt: Seq[(String, Long, Long, Double, Double)],
      got: Seq[Oracle.Fill]): Unit = {
    val want = Oracle.replayTrades(bt, Commission)
    val g = got.sortBy(f => (f.instrument, f.tsUs, f.seq))
    c("backtest: independent replay gives the same trade log")(g == want,
      s"${g.size} fills vs ${want.size}")
  }

  def corruptionsCaught(): Seq[(String, Boolean)] = {
    def fails(f: Checks => Unit): Boolean = { val c = new Checks; f(c); c.failures.nonEmpty }
    val books = market.book.map(Schemas.bookKey).toSeq
    // a label moved to the next row's value
    val shifted = {
      val i = lastFls.indices.find(i => i + 1 < lastFls.size &&
        lastFls(i).getAs[Double]("label_price") != lastFls(i + 1).getAs[Double]("label_price")).get
      val r = lastFls(i)
      val vals = r.toSeq.toArray
      vals(r.fieldIndex("label_price")) = lastFls(i + 1).getAs[Double]("label_price")
      lastFls.updated(i, new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(vals, r.schema))
    }
    // two rows sharing a timestamp replayed in the other order
    val want = Oracle.replayTrades(lastBt, Commission)
    val sorted = lastBt.sortBy(r => (r._1, r._2, r._3)).toIndexedSeq
    val swapped = sorted.indices.iterator
      .filter(i => i + 1 < sorted.size && sorted(i)._1 == sorted(i + 1)._1 &&
        sorted(i)._2 == sorted(i + 1)._2)
      .map { i =>
        val (a, b) = (sorted(i), sorted(i + 1))
        sorted.updated(i, a.copy(_3 = b._3)).updated(i + 1, b.copy(_3 = a._3))
      }
      .find(s => Oracle.replayTrades(s, Commission) != want)
    Seq(
      "research_loop: dropped scan row" -> fails(checkScan(_, lastScan.tail, books)),
      "research_loop: shifted label" -> fails(checkFls(_, shifted)),
      "research_loop: reordered tie" -> swapped.exists(s =>
        fails(checkBacktest(_, lastBt, Oracle.replayTrades(s, Commission)))))
  }
}
