package lifebench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** One trade print. `seq` is the instrument's exchange sequence number,
  * shared with its book updates, so (instrument, tsUs, seq) is unique. */
final case class Trade(instrument: String, tsUs: Long, seq: Long,
    price: Double, amount: Double, isBuy: Boolean) {
  def notional: Double = price * amount
}

/** One L2 book update in the shape `L2Book.replay` reads. */
final case class BookUpd(instrument: String, tsUs: Long, seq: Long,
    updateType: String, side: String, price: Double, size: Double)

/** Generated market data for one seed. */
final class Market(val trades: Array[Trade], val book: Array[BookUpd]) {
  def instruments: Seq[String] = trades.map(_.instrument).distinct.sorted.toSeq
}

/** Seeded synthetic market data: per instrument a merged sequence of
  * trades and book updates on a shared sequence number. About one event
  * in six repeats the previous event's timestamp (equal-timestamp
  * collisions), book updates come in same-timestamp runs of one to three
  * rows, and prices follow order flow (a buy run pushes the price up) so
  * a lookahead label has some signal to learn. Prices are whole ticks of
  * 0.01 so a decimal text round trip is exact. */
object Gen {

  /** 2024-01-02T01:00:00Z; every generated span stays inside that day. */
  val BaseUs: Long = 1704157200000000L

  def market(seed: Long, instruments: Int, eventsPerInstrument: Int,
      meanGapUs: Long): Market = {
    val trades = Array.newBuilder[Trade]
    val book = Array.newBuilder[BookUpd]
    (0 until instruments).foreach { i =>
      val name = f"I$i%02d"
      val rnd = new java.util.SplittableRandom(seed * 1000003L + i)
      var ts = BaseUs + rnd.nextLong(meanGapUs)
      var seq = 0L
      var ticks = 10000L + rnd.nextInt(5000) // price in 0.01 ticks
      var flow = 0 // recent signed buy/sell count
      def px(t: Long) = t / 100.0
      // opening snapshot: five levels a side
      (1 to 5).foreach { k =>
        seq += 1
        book += BookUpd(name, ts, seq, "SNAPSHOT", "bid", px(ticks - k), 1.0 + k)
        seq += 1
        book += BookUpd(name, ts, seq, "SNAPSHOT", "ask", px(ticks + k), 1.0 + k)
      }
      var n = 0
      while (n < eventsPerInstrument) {
        ts += (if (rnd.nextInt(6) == 0) 0L else 1L + rnd.nextLong(2 * meanGapUs))
        if (rnd.nextBoolean()) {
          val buy = rnd.nextInt(10) < 5 + math.max(-3, math.min(3, flow))
          flow = math.max(-6, math.min(6, flow + (if (buy) 1 else -1)))
          ticks = math.max(100L, ticks + (if (buy) 1 else -1) * rnd.nextInt(3) +
            (if (flow > 2) 1 else if (flow < -2) -1 else 0))
          seq += 1
          trades += Trade(name, ts, seq, px(ticks), (1 + rnd.nextInt(40)) / 4.0, buy)
          n += 1
        } else {
          val run = 1 + rnd.nextInt(3)
          (0 until run).foreach { _ =>
            val side = if (rnd.nextBoolean()) "bid" else "ask"
            val off = 1 + rnd.nextInt(5)
            val level = if (side == "bid") ticks - off else ticks + off
            val kind = rnd.nextInt(10) match {
              case 0 | 1 => "ADD"
              case 2 => "SUB"
              case _ => "SET"
            }
            val size = if (kind == "SET" && rnd.nextInt(5) == 0) 0.0
              else (1 + rnd.nextInt(20)) / 2.0
            seq += 1
            book += BookUpd(name, ts, seq, kind, side, px(level), size)
            n += 1
          }
        }
      }
    }
    new Market(trades.result(), book.result())
  }

  def writeTradesCsv(ts: Array[Trade], path: java.nio.file.Path): Unit =
    writeLines(path, "instrument,ts_us,seq,price,amount,is_buy",
      ts.iterator.map(t =>
        s"${t.instrument},${t.tsUs},${t.seq},${t.price},${t.amount},${t.isBuy}"))

  def writeBookCsv(bs: Array[BookUpd], path: java.nio.file.Path): Unit =
    writeLines(path, "instrument,ts_us,seq,update_type,side,price,size",
      bs.iterator.map(b =>
        s"${b.instrument},${b.tsUs},${b.seq},${b.updateType},${b.side},${b.price},${b.size}"))

  private def writeLines(path: java.nio.file.Path, header: String,
      lines: Iterator[String]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write(header); w.newLine()
      lines.foreach { l => w.write(l); w.newLine() }
    } finally w.close()
  }
}

/** Table schemas of the generated data and their text row keys. */
object Schemas {
  val Trades: StructType = StructType(Seq(
    StructField("instrument", StringType), StructField("ts_us", LongType),
    StructField("seq", LongType), StructField("price", DoubleType),
    StructField("amount", DoubleType), StructField("is_buy", BooleanType)))
  val Book: StructType = StructType(Seq(
    StructField("instrument", StringType), StructField("ts_us", LongType),
    StructField("seq", LongType), StructField("update_type", StringType),
    StructField("side", StringType), StructField("price", DoubleType),
    StructField("size", DoubleType)))

  def tradeKey(t: Trade): String =
    s"${t.instrument}|${t.tsUs}|${t.seq}|${t.price}|${t.amount}|${t.isBuy}"
  def bookKey(b: BookUpd): String =
    s"${b.instrument}|${b.tsUs}|${b.seq}|${b.updateType}|${b.side}|${b.price}|${b.size}"
  def rowKey(r: Row): String = r.toSeq.mkString("|")
  def cols(st: StructType): Seq[Column] = st.fieldNames.toSeq.map(col)

  def tradesFrame(spark: SparkSession, ts: Seq[Trade]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      ts.map(t => Row(t.instrument, t.tsUs, t.seq, t.price, t.amount, t.isBuy)), 1), Trades)
  def bookFrame(spark: SparkSession, bs: Seq[BookUpd]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      bs.map(b => Row(b.instrument, b.tsUs, b.seq, b.updateType, b.side, b.price, b.size)), 1), Book)
}
