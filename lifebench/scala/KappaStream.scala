package lifebench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.operators.{L2Book, WindowOps}
import graft.sources.BlockCatalog
import graft.streaming.{BlockWriter, Streaming}

/** The online half fed with the same kind of data: a recorded feed of
  * trades and book updates, cataloged as one block of ts-ordered files
  * with re-sent messages planted after simulated reconnects, replayed
  * through Structured Streaming a fixed number of files per trigger. The
  * feed is deduplicated, drained into a catalog through BlockWriter, and
  * run through the four stateful twins, all under Trigger.AvailableNow. */
final class KappaStream extends Workload {
  val FeedFiles = 4
  val FilesPerTrigger = 2
  val Resend = 25
  val LookbackUs = 1000000L
  val BarUs = 5000000L
  val Depth = 5

  val FeedSchema: StructType = StructType(Seq(
    StructField("instrument", StringType), StructField("ts_us", LongType),
    StructField("seq", LongType), StructField("kind", StringType),
    StructField("price", DoubleType), StructField("amount", DoubleType),
    StructField("is_buy", BooleanType), StructField("update_type", StringType),
    StructField("side", StringType)))

  private var distinct: Seq[Row] = Nil
  private var planted = 0
  private var feedDir = ""
  // outputs of the last checked pass, kept for the self-test only
  private var keep = false
  private var last: Map[String, (Out, Out)] = Map.empty

  private def tradeRow(t: Trade) =
    Row(t.instrument, t.tsUs, t.seq, "T", t.price, t.amount, t.isBuy, null, null)
  private def bookRow(b: BookUpd) =
    Row(b.instrument, b.tsUs, b.seq, "B", b.price, b.size, null, b.updateType, b.side)

  def generate(spark: SparkSession, dir: Path, seed: Long, tiny: Boolean): Unit = {
    keep = tiny
    val market = Gen.market(seed, if (tiny) 2 else 4, if (tiny) 300 else 1000, 10000L)
    val msgs = (market.trades.map(tradeRow) ++ market.book.map(bookRow))
      .sortBy(r => (r.getLong(1), r.getString(0), r.getLong(2)))
    distinct = msgs.toSeq
    // cut at timestamp boundaries: an equal-ts run never spans two files
    val n = msgs.length
    val cuts = 0 +: (1 until FeedFiles).map { i =>
      var j = i * n / FeedFiles
      while (j < n && msgs(j).getLong(1) == msgs(j - 1).getLong(1)) j += 1
      j
    } :+ n
    val slices = cuts.sliding(2).map { case Seq(a, b) => msgs.slice(a, b).toSeq }.toIndexedSeq
    // each file after the first opens with a reconnect that re-sends the
    // previous file's tail, inside one trigger and across triggers
    val feed = slices.indices.map { i =>
      if (i > 0) slices(i - 1).takeRight(Resend) ++ slices(i) else slices(i)
    }
    planted = feed.map(_.size).sum - n
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(feed, feed.size).flatMap(identity), FeedSchema)
    val cat = new BlockCatalog(spark, dir.resolve("feed").toString)
    cat.write(df, "feed", "recorded", "ts_us")
    import scala.jdk.CollectionConverters._
    val files = Files.walk(dir.resolve("feed/feed/recorded/data")).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-")).toSeq
      .sortBy(_.getFileName.toString)
    require(files.size == feed.size, s"feed has ${files.size} files, expected ${feed.size}")
    // the file source admits files in modification-time order
    val t0 = System.currentTimeMillis() - 1000L * files.size
    files.zipWithIndex.foreach { case (f, i) => f.toFile.setLastModified(t0 + 1000L * i) }
    feedDir = files.head.getParent.toString
  }

  private def deduped(spark: SparkSession): DataFrame = {
    val feed = spark.readStream.schema(FeedSchema)
      .option("maxFilesPerTrigger", FilesPerTrigger.toString).parquet(feedDir)
    Streaming.exactDedupStream(feed,
      concat_ws("|", Schemas.cols(FeedSchema): _*),
      timestamp_micros(col("ts_us")), "1 hour")
  }

  private def okey = WindowOps.orderKey(col("ts_us"), col("seq"))
  private def trades(df: DataFrame) = df.filter(col("kind") === "T")
  private def ohlcvIn(df: DataFrame) = trades(df).select(col("instrument").as("event_type"),
    (col("ts_us") * 1000L).as("ts"), col("price").as("value"), col("seq").as("event_id"))

  /** Start a query under AvailableNow that keeps what it emitted in `out`. */
  private def start(p: Pass, name: String, df: DataFrame, mode: String,
      out: mutable.ArrayBuffer[Row]) =
    df.writeStream.outputMode(mode)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.collect()
        if (mode == "complete") out.clear()
        out ++= rows
        ()
      }
      .option("checkpointLocation", p.path(s"ckpt/$name"))
      .trigger(Trigger.AvailableNow())
      .start()

  def pass(p: Pass): Unit = {
    val spark = p.spark
    import spark.implicits._
    val sink = new BlockCatalog(spark, p.path("catalog"))
    // the three keyed folds drain as one query, their outputs unioned
    val noLevels = lit(null).cast("array<struct<price:double,size:double>>")
    def fold(twin: String, df: DataFrame, value: org.apache.spark.sql.Column) =
      df.select(lit(twin).as("twin"), col("key"), col("okey"), value.as("value"),
        noLevels.as("bids"), noLevels.as("asks"))
    val sd = fold("stddev", Streaming.slidingStddevStream(trades(deduped(spark))
      .select(col("instrument").as("key"), okey.as("okey"), col("price").as("value"))
      .as[Streaming.ValueEvent], LookbackUs * 1000L).toDF(), col("stddev"))
    val tvi = fold("tvi", Streaming.slidingTviStream(trades(deduped(spark))
      .select(col("instrument").as("key"), okey.as("okey"),
        (col("price") * col("amount")).as("notional"), col("is_buy").as("isBuy"))
      .as[Streaming.SidedEvent], LookbackUs * 1000L).toDF(), col("tvi"))
    val l2 = Streaming.l2BookStream(deduped(spark).filter(col("kind") === "B")
      .select(col("instrument"), col("ts_us"), col("seq"), col("update_type"), col("side"),
        col("price"), col("amount").as("size"))
      .as[L2Book.Update], Depth).toDF()
      .select(lit("l2").as("twin"), col("instrument").as("key"), col("ts_us").as("okey"),
        lit(null).cast("double").as("value"), col("bids"), col("asks"))
    val ohlcv = mutable.ArrayBuffer.empty[Row]
    val folds = mutable.ArrayBuffer.empty[Row]
    // the sink, the OHLCV aggregate and the folds drain side by side
    p.call("streaming.drain") {
      Seq(
        BlockWriter.start(deduped(spark), sink, "kappa", "all", "ts_us",
          checkpoint = Some(p.path("ckpt/sink")), availableNow = true),
        start(p, "ohlcv", Streaming.ohlcvStream(ohlcvIn(deduped(spark)), BarUs), "complete",
          ohlcv),
        start(p, "folds", sd.unionByName(tvi).unionByName(l2), "append", folds)
      ).foreach(_.awaitTermination())
    }
    def twin(name: String) = folds.toSeq.filter(_.getString(0) == name)
    p.counts ++= Layers.catalogSizes(p.dir.resolve("catalog"))
    p.callsDone()
    if (!p.check) return

    // batch twins over the same distinct messages
    val batch = spark.createDataFrame(spark.sparkContext.parallelize(distinct, 4), FeedSchema)
    val bt = trades(batch)
    val ins = bt.select(col("instrument"), okey.as("okey"), col("price"),
      (col("price") * col("amount")).as("notional"), col("is_buy"))
    val by = Seq(col("instrument"))
    val win = ins.select(col("instrument"), col("okey"),
      WindowOps.volatility(col("price"), by, col("okey"), LookbackUs).as("sd"),
      WindowOps.tvi(col("notional"), col("is_buy"), by, col("okey"), LookbackUs).as("tvi"))
      .collect()
    // (exact key, value compared within a relative 1e-9)
    def exact(xs: Seq[String]): Out = xs.map(k => (k, None))
    def approx(r: Row, i: Int): (String, Option[Double]) =
      if (r.isNullAt(i)) (s"${r.get(0)}|${r.get(1)}|null", None)
      else (s"${r.get(0)}|${r.get(1)}", Some(r.getDouble(i)))
    val bars = WindowOps.ohlcv(bt, col("ts_us"), okey, col("price"), col("amount"), BarUs,
      Seq(col("instrument"))).collect()
    val bookBatch = batch.filter(col("kind") === "B").select(col("instrument"), col("ts_us"),
      col("seq"), col("update_type"), col("side"), col("price"), col("amount").as("size"))
    val outputs: Map[String, (Out, Out)] = Map(
      "drained catalog holds exactly the distinct messages" -> (exact(
        sink.scanAll("kappa", "all").select(Schemas.cols(FeedSchema): _*).collect()
          .map(Schemas.rowKey).toSeq), exact(distinct.map(Schemas.rowKey))),
      "ohlcvStream equals its batch run" -> (exact(ohlcv.toSeq.map(Schemas.rowKey)),
        exact(Streaming.ohlcvStream(ohlcvIn(batch), BarUs).collect().map(Schemas.rowKey).toSeq)),
      "ohlcvStream bars equal WindowOps.ohlcv" -> (
        exact(ohlcv.toSeq.map(r => Seq(0, 1, 2, 3, 4, 5, 8).map(r.get).mkString("|"))),
        exact(bars.map(r => Seq(0, 1, 2, 3, 4, 5, 8).map(r.get).mkString("|")).toSeq)),
      "slidingStddevStream equals WindowOps.volatility" -> (
        twin("stddev").map(r => approx(Row(r.get(1), r.get(2), r.get(3)), 2)),
        win.map(approx(_, 2)).toSeq),
      "slidingTviStream equals WindowOps.tvi" -> (
        twin("tvi").map(r => approx(Row(r.get(1), r.get(2), r.get(3)), 2)),
        win.map(approx(_, 3)).toSeq),
      "l2BookStream equals L2Book.replay" -> (exact(twin("l2").map(r =>
        snapKey(Row(r.get(1), r.get(2), r.get(4), r.get(5))))),
        exact(L2Book.replay(bookBatch, Depth).toDF().collect().map(snapKey).toSeq)))
    outputs.foreach { case (name, (got, want)) => checkSame(p.checks, name, got, want) }
    p.checks("dedup: the feed carried re-sends")(planted > 0)
    if (keep) last = outputs
  }

  private def snapKey(r: Row): String = {
    def levels(i: Int) = r.getSeq[Row](i).map(l => s"${l.getDouble(0)}:${l.getDouble(1)}").mkString(",")
    s"${r.getString(0)}|${r.getLong(1)}|${levels(2)}|${levels(3)}"
  }

  private type Out = Seq[(String, Option[Double])]

  private def checkSame(c: Checks, name: String, got: Out, want: Out): Unit = {
    val (g, w) = (got.sortBy(_._1), want.sortBy(_._1))
    c(s"kappa: $name")(g.size == w.size && g.zip(w).forall { case ((a, x), (b, y)) =>
      a == b && x.size == y.size && x.zip(y).forall { case (u, v) => Oracle.close(u, v) }
    }, s"${got.size} rows vs ${want.size}")
  }

  def corruptionsCaught(): Seq[(String, Boolean)] = {
    def fails(name: String, f: Out => Out) = {
      val c = new Checks
      val (g, w) = last(name)
      checkSame(c, name, f(g), w)
      c.failures.nonEmpty
    }
    val sinkName = "drained catalog holds exactly the distinct messages"
    Seq(
      "kappa_stream: re-send kept" -> fails(sinkName, g => g :+ g.head),
      "kappa_stream: dropped drained row" -> fails(sinkName, _.tail),
      "kappa_stream: stddev of the neighbouring event" ->
        fails("slidingStddevStream equals WindowOps.volatility", g => {
          val s = g.sortBy(_._1)
          s.zip(s.tail :+ s.head).map { case ((k, _), (_, v)) => (k, v) }
        }))
  }
}
