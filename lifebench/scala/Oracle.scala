package lifebench

import scala.collection.mutable

/** Plain-Scala recomputations over the generated arrays — the reference
  * every check compares the program's outputs with. Nothing here calls
  * the program. */
object Oracle {

  /** The library's total order key: ts * 1000 + seq mod 1000. */
  def okey(tsUs: Long, seq: Long): Long = tsUs * 1000L + Math.floorMod(seq, 1000L)

  /** Population stddev of price over the range frame
    * [okey - lookback * 1000, okey], per trade, keyed by (instrument, seq). */
  def volatility(trades: Array[Trade], lookbackUs: Long): Map[(String, Long), Double] =
    slidingBy(trades, lookbackUs) { w =>
      val n = w.length
      val mean = w.map(_.price).sum / n
      math.sqrt(w.map(t => (t.price - mean) * (t.price - mean)).sum / n)
    }.map { case (k, v) => k -> v }

  /** Trade volume imbalance 2(b - s)/(b + s) of notional over the same
    * frame; None when the window holds no notional. */
  def tvi(trades: Array[Trade], lookbackUs: Long): Map[(String, Long), Option[Double]] =
    slidingBy(trades, lookbackUs) { w =>
      val b = w.filter(_.isBuy).map(_.notional).sum
      val s = w.filterNot(_.isBuy).map(_.notional).sum
      if (b + s == 0.0) None else Some(2.0 * (b - s) / (b + s))
    }

  private def slidingBy[V](trades: Array[Trade], lookbackUs: Long)(
      f: Array[Trade] => V): Map[(String, Long), V] = {
    val out = mutable.HashMap.empty[(String, Long), V]
    trades.groupBy(_.instrument).foreach { case (inst, ts0) =>
      val ts = ts0.sortBy(t => okey(t.tsUs, t.seq))
      var lo = 0
      var i = 0
      while (i < ts.length) {
        val ok = okey(ts(i).tsUs, ts(i).seq)
        var hi = i
        while (hi + 1 < ts.length && okey(ts(hi + 1).tsUs, ts(hi + 1).seq) == ok) hi += 1
        while (okey(ts(lo).tsUs, ts(lo).seq) < ok - lookbackUs * 1000L) lo += 1
        val v = f(ts.slice(lo, hi + 1))
        (i to hi).foreach(j => out((inst, ts(j).seq)) = v)
        i = hi + 1
      }
    }
    out.toMap
  }

  final case class Bar(instrument: String, bucketUs: Long, open: Double,
      high: Double, low: Double, close: Double, volume: Double, vwap: Double,
      numTrades: Long)

  /** OHLCV per tumbling `widthUs` bucket; open/close by order key. */
  def bars(trades: Array[Trade], widthUs: Long): Seq[Bar] =
    trades.groupBy(t => (t.instrument, t.tsUs / widthUs * widthUs)).toSeq.map {
      case ((inst, b), ts0) =>
        val ts = ts0.sortBy(t => okey(t.tsUs, t.seq))
        val vol = ts.map(_.amount).sum
        Bar(inst, b, ts.head.price, ts.map(_.price).max, ts.map(_.price).min,
          ts.last.price, vol, ts.map(t => t.price * t.amount).sum / vol, ts.length)
    }.sortBy(b => (b.instrument, b.bucketUs))

  /** The L2 book after all rows of each (instrument, ts), top `depth`
    * levels a side: the semantics `L2Book.replay` documents, rebuilt. */
  def l2Snapshots(book: Array[BookUpd], depth: Int)
      : Seq[(String, Long, Seq[(Double, Double)], Seq[(Double, Double)])] =
    book.groupBy(_.instrument).toSeq.sortBy(_._1).flatMap { case (inst, rows0) =>
      val rows = rows0.sortBy(b => (b.tsUs, b.seq))
      val bids = new java.util.TreeMap[Double, Double](java.util.Collections.reverseOrder[Double]())
      val asks = new java.util.TreeMap[Double, Double]()
      var snapTs = Long.MinValue
      val out = mutable.ArrayBuffer.empty[(String, Long, Seq[(Double, Double)], Seq[(Double, Double)])]
      var i = 0
      while (i < rows.length) {
        val ts = rows(i).tsUs
        while (i < rows.length && rows(i).tsUs == ts) {
          val u = rows(i)
          val side = if (u.side == "bid") bids else asks
          val cur = Option(side.get(u.price)).map(_.doubleValue).getOrElse(0.0)
          u.updateType match {
            case "SNAPSHOT" =>
              if (u.tsUs != snapTs) { bids.clear(); asks.clear(); snapTs = u.tsUs }
              if (u.size > 0) side.put(u.price, u.size) else side.remove(u.price)
            case "ADD" => snapTs = Long.MinValue; side.put(u.price, cur + u.size)
            case "SET" =>
              snapTs = Long.MinValue
              if (u.size > 0) side.put(u.price, u.size) else side.remove(u.price)
            case "SUB" =>
              snapTs = Long.MinValue
              if (cur - u.size > 0) side.put(u.price, cur - u.size) else side.remove(u.price)
          }
          i += 1
        }
        import scala.jdk.CollectionConverters._
        def top(m: java.util.TreeMap[Double, Double]) =
          m.entrySet().iterator().asScala.take(depth)
            .map(e => (e.getKey.doubleValue, e.getValue.doubleValue)).toSeq
        out += ((inst, ts, top(bids), top(asks)))
      }
      out
    }

  /** Index of the last element whose key is <= k in a sorted key array, -1 if none. */
  def lastAtOrBefore(keys: Array[Long], k: Long): Int = {
    var lo = 0
    var hi = keys.length - 1
    var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (keys(mid) <= k) { ans = mid; lo = mid + 1 } else hi = mid - 1
    }
    ans
  }

  final case class Fill(instrument: String, tsUs: Long, seq: Long, qty: Double,
      price: Double, commission: Double, cash: Double, position: Double)

  /** An execution simulator written apart from the program's: per
    * instrument in (ts, seq) order, move to the target position at the
    * row's price and pay `rate` commission on the traded notional. */
  def replayTrades(rows: Seq[(String, Long, Long, Double, Double)],
      rate: Double): Seq[Fill] =
    rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (inst, rs) =>
      var cash = 0.0
      var pos = 0.0
      rs.sortBy(r => (r._2, r._3)).flatMap { case (_, ts, seq, price, target) =>
        val qty = target - pos
        if (qty == 0.0) None
        else {
          val commission = math.abs(qty) * price * rate
          cash -= qty * price + commission
          pos = target
          Some(Fill(inst, ts, seq, qty, price, commission, cash, pos))
        }
      }
    }

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
