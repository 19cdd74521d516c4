package graft

import java.lang.Double.doubleToRawLongBits
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{KeyedFold, L2Book, Preprocess}
import graft.operators.L2Book.{BookState, Snapshot, Update}
import graft.streaming.Streaming
import graft.streaming.Streaming._

/** One generated keyed row; every fold reads the fields it needs. */
case class FoldRow(key: String, okey: Long, seq: Long, value: Double,
    cents: Long, isBuy: Boolean, updateType: String, side: String,
    price: Double, size: Double) {
  def buy: Double = if (isBuy) value else 0.0
  def sell: Double = if (isBuy) 0.0 else value
  def update: Update = Update(key, okey, seq, updateType, side, price, size)
}

/** One generated input: keyed rows with planted order-key ties (okeys
  * drawn from a narrow range), windows that straddle keys (keys share
  * the okey range), and the okeys at which the stream cuts it into
  * triggers. Cuts fall between runs, so no run straddles a trigger. */
case class FoldSample(rows: Seq[FoldRow], cuts: Seq[Long])

/** Both runners of every [[KeyedFold]] against a plain-Scala replay,
  * byte for byte: the batch runner under 1, 3, 7 and 13 input
  * partitions, and the stream runner with each sample's rows cut into
  * 1 to 4 `MemoryStream` triggers along run boundaries. Every property
  * evaluation folds several samples at once, each under its own keys,
  * so one Spark job per runner checks them all. */
class KeyedFoldPropertySpec extends AnyFunSuite {

  import scala.math.Ordering.Double.TotalOrdering

  lazy val spark = TestSpark.session
  private val Range = 8L
  private val BucketUs = 5L
  private val Parts = Seq(1, 3, 7, 13)

  private val genSample: Gen[FoldSample] = for {
    nKeys <- Gen.choose(1, 3)
    n <- Gen.choose(0, 40)
    raw <- Gen.listOfN(n, for {
      k <- Gen.choose(0, nKeys - 1)
      okey <- Gen.choose(0L, 30L)
      tenths <- Gen.choose(0, 400)
      cents <- Gen.choose(-500L, 500L)
      isBuy <- Gen.oneOf(true, false)
      ut <- Gen.frequency(1 -> "SNAPSHOT", 2 -> "ADD", 2 -> "SET", 2 -> "SUB")
      side <- Gen.oneOf("bid", "ask")
      price <- Gen.oneOf(99.0, 99.5, 100.0, 100.5, 101.0)
      size <- Gen.choose(0, 4)
    } yield FoldRow(s"k$k", okey, 0L, tenths / 10.0, cents, isBuy, ut, side,
      price, size.toDouble))
    nCuts <- Gen.choose(0, 3)
    cuts <- Gen.listOfN(nCuts, Gen.choose(1L, 30L))
  } yield FoldSample(raw.zipWithIndex.map { case (r, i) => r.copy(seq = i.toLong) },
    cuts.distinct.sorted)

  /** Samples under disjoint keys, so one run folds them all. */
  private val genSamples: Gen[Seq[FoldSample]] =
    Gen.listOfN(5, genSample).map(_.zipWithIndex.map { case (s, i) =>
      s.copy(rows = s.rows.map(r => r.copy(key = s"s$i${r.key}")))
    })

  private def check(name: String)(prop: Seq[FoldSample] => Unit): Unit = {
    val params = Test.Parameters.default.withMinSuccessfulTests(2)
      .withInitialSeed(Seed(name.hashCode.toLong)).withWorkers(1)
    val res = Test.check(params, Prop.forAllNoShrink(genSamples) { s => prop(s); true })
    assert(res.passed, s"$name: ${res.status}")
  }

  private def frame(rows: Seq[FoldRow]): DataFrame = {
    import spark.implicits._
    rows.toDF().withColumn("c", col("cents").cast("double"))
      .withColumn("b", col("value") * col("isBuy").cast("double"))
      .withColumn("sl", col("value") * (!col("isBuy")).cast("double"))
  }

  /** Trigger t of the stream carries every sample's rows whose run key
    * lies between its (t-1)-th and t-th cut. */
  private def triggers(samples: Seq[FoldSample], cutOf: Long => Long,
      runKey: FoldRow => Long): Seq[Seq[FoldRow]] = {
    val slices = samples.map { s =>
      val cuts = s.cuts.map(cutOf).distinct
      (cuts :+ Long.MaxValue).zip(Long.MinValue +: cuts).map { case (hi, lo) =>
        s.rows.filter(r => runKey(r) >= lo && runKey(r) < hi)
      }
    }
    (0 until slices.map(_.size).max).map(t => slices.flatMap(_.lift(t).getOrElse(Nil)))
  }

  private val queries = new AtomicInteger
  private def drain[T: Encoder, O](batches: Seq[Seq[T]])(
      build: Dataset[T] => Dataset[O]): Array[Row] = {
    implicit val sqlCtx = spark.sqlContext
    val name = s"fold_prop_${queries.incrementAndGet()}"
    val input = MemoryStream[T]
    val q = build(input.toDS()).toDF().writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      batches.filter(_.nonEmpty).foreach { b => input.addData(b); q.processAllAvailable() }
      spark.table(name).collect()
    } finally q.stop()
  }

  private def bits(d: Double): Long = doubleToRawLongBits(d)
  private def line(xs: Any*): String = xs.mkString("|")
  private def byKey(rows: Seq[FoldRow]): Seq[Seq[FoldRow]] =
    rows.groupBy(_.key).values.toSeq

  /** The rows of `sorted` inside row `r`'s RANGE window, in order. */
  private def window(sorted: Seq[FoldRow], r: FoldRow): Seq[FoldRow] =
    sorted.filter(x => x.okey >= r.okey - Range && x.okey <= r.okey)

  /** Compare `got` under every runner against `want`. */
  private def same(what: String, want: Seq[String], got: Seq[String]): Unit =
    assert(got.sorted == want.sorted, s"$what: ${got.size} rows vs ${want.size}")

  test("stddevPop: both runners equal the two-pass replay") {
    import spark.implicits._
    check("stddevPop") { samples =>
      val rows = samples.flatMap(_.rows)
      val want = byKey(rows).flatMap { g =>
        val sorted = g.sortBy(r => (r.okey, r.value))
        sorted.map { r =>
          val w = window(sorted, r).map(_.value)
          var sum = 0.0
          w.foreach(sum += _)
          val mean = sum / w.size
          var m2 = 0.0
          w.foreach { v => val d = v - mean; m2 += d * d }
          line(r.key, r.okey, bits(r.value), bits(math.sqrt(m2 / w.size)))
        }
      }
      Parts.foreach { p =>
        same(s"batch/$p", want, Preprocess.slidingStddevPop(frame(rows).repartition(p),
            "okey", "value", Range, Seq("key"), "sd")
          .select("key", "okey", "value", "sd").collect().toSeq
          .map(r => line(r.get(0), r.get(1), bits(r.getDouble(2)), bits(r.getDouble(3)))))
      }
      same("stream", want, drain(triggers(samples, identity, _.okey)
          .map(_.map(r => ValueEvent(r.key, r.okey, r.value))))(
          Streaming.slidingStddevStream(_, Range)).toSeq
        .map(r => line(r.get(0), r.get(1), bits(r.getDouble(2)), bits(r.getDouble(3)))))
    }
  }

  test("tvi: both runners equal the windowed-sum replay") {
    import spark.implicits._
    check("tvi") { samples =>
      val rows = samples.flatMap(_.rows)
      def tviLine(k: Any, ok: Any, v: Option[Double]) = line(k, ok, v.map(bits))
      val want = byKey(rows).flatMap { g =>
        val sorted = g.sortBy(r => (r.okey, r.buy, r.sell))
        sorted.map { r =>
          var b = 0.0
          var s = 0.0
          window(sorted, r).foreach { x => b += x.buy; s += x.sell }
          tviLine(r.key, r.okey, if (b + s == 0.0) None else Some(2.0 * (b - s) / (b + s)))
        }
      }
      Parts.foreach { p =>
        same(s"batch/$p", want, Preprocess.slidingTvi(frame(rows).repartition(p),
            "okey", "b", "sl", Range, Seq("key"), "tvi")
          .select("key", "okey", "tvi").collect().toSeq
          .map(r => tviLine(r.get(0), r.get(1), Option(r.get(2)).map(_ => r.getDouble(2)))))
      }
      same("stream", want, drain(triggers(samples, identity, _.okey)
          .map(_.map(r => SidedEvent(r.key, r.okey, r.value, r.isBuy))))(
          Streaming.slidingTviStream(_, Range)).toSeq
        .map(r => tviLine(r.get(0), r.get(1), Option(r.get(2)).map(_ => r.getDouble(2)))))
    }
  }

  test("stddevCents: both runners equal the from-scratch integer-sum replay") {
    import spark.implicits._
    check("stddevCents") { samples =>
      val rows = samples.flatMap(_.rows)
      val want = byKey(rows).flatMap { g =>
        val sorted = g.sortBy(_.okey)
        sorted.map { r =>
          val w = window(sorted, r).map(_.cents.toDouble)
          val mean = w.sum / w.size
          val varC = math.max(0.0, w.map(c => c * c).sum / w.size - mean * mean)
          line(r.key, r.okey, r.cents, bits(math.sqrt(varC) / 100.0))
        }
      }
      for (p <- Parts; chunk <- Seq(0L, Range + 3)) {
        same(s"batch/$p/chunk $chunk", want, Preprocess.slidingStddevCentsIncremental(
            frame(rows).repartition(p), "okey", "c", Range, Seq("key"), "sd",
            chunkUnits = chunk)
          .select("key", "okey", "cents", "sd").collect().toSeq
          .map(r => line(r.get(0), r.get(1), r.get(2), bits(r.getDouble(3)))))
      }
      same("stream", want, drain(triggers(samples, identity, _.okey)
          .map(_.map(r => CentsEvent(r.key, r.okey, r.seq, r.cents))))(ds =>
          KeyedFold.runStream(ds, (e: CentsEvent) => e.key, KeyedFold.stddevCents(
            KeyedFold.LongField[CentsEvent]("okey", _.okey), (e: CentsEvent) => e.cents.toDouble,
            Range)((e, sd) => (e.key, e.okey, e.cents, sd)))).toSeq
        .map(r => line(r.get(0), r.get(1), r.get(2), bits(r.getDouble(3)))))
    }
  }

  test("anomaly: both runners equal the pure-Long replay") {
    import spark.implicits._
    check("anomaly") { samples =>
      val rows = samples.flatMap(_.rows)
      val want = byKey(rows).flatMap { g =>
        val sorted = g.sortBy(_.okey)
        sorted.map { r =>
          val w = window(sorted, r).map(_.cents)
          val (n, s, ss) = (w.size.toLong, w.sum, w.map(c => c * c).sum)
          val dev = n * r.cents - s
          line(r.key, r.okey, r.seq, n, if (dev * dev > 4L * (n * ss - s * s)) 1 else 0)
        }
      }
      for (p <- Parts; chunk <- Seq(0L, Range + 3)) {
        same(s"batch/$p/chunk $chunk", want, Preprocess.anomalyExactFold(
            frame(rows).repartition(p), "okey", "cents", Range, Seq("key"), z = 2,
            chunkUnits = chunk)
          .select("key", "okey", "seq", "n", "is_anomaly").collect().toSeq
          .map(r => line(r.toSeq: _*)))
      }
      same("stream", want, drain(triggers(samples, identity, _.okey)
          .map(_.map(r => CentsEvent(r.key, r.okey, r.seq, r.cents))))(
          Streaming.anomalyExactStream(_, Range, z = 2)).toSeq
        .map(r => line(r.toSeq: _*)))
    }
  }

  test("throttle: both runners equal the (ts, seq) replay; of equal ts the lowest seq passes") {
    import spark.implicits._
    check("throttle") { samples =>
      val rows = samples.flatMap(_.rows)
      val want = byKey(rows).flatMap { g =>
        var last = Long.MinValue
        g.sortBy(r => (r.okey, r.seq)).flatMap { r =>
          if (last == Long.MinValue || r.okey - last >= Range) {
            last = r.okey; Some(line(r.key, r.okey, r.seq))
          } else None
        }
      }
      Parts.foreach { p =>
        same(s"batch/$p", want, Preprocess.throttleElapsed(frame(rows).repartition(p),
            "okey", Range, Seq("key"), seq = "seq")
          .select("key", "okey", "seq").collect().toSeq.map(r => line(r.toSeq: _*)))
      }
      same("stream", want, drain(triggers(samples, identity, _.okey)
          .map(_.map(r => ThrottleEvent(r.key, r.okey, r.seq, r.value))))(
          Streaming.throttleElapsedStream(_, Range)).toSeq
        .map(r => line(r.get(0), r.get(1), r.get(2))))
    }
  }

  /** One snapshot per run (a timestamp, or a sampling bucket) after all
    * of its updates, at the run's last timestamp. */
  private def bookReplay(rows: Seq[FoldRow], sampling: Option[Long]): Seq[String] =
    byKey(rows).flatMap { g =>
      val book = new BookState
      val sorted = g.sortBy(r => (r.okey, r.seq))
      def run(r: FoldRow) = sampling.fold(r.okey)(w => Math.floorDiv(r.okey, w))
      sorted.indices.flatMap { i =>
        book.apply(sorted(i).update)
        if (i + 1 < sorted.size && run(sorted(i + 1)) == run(sorted(i))) None
        else {
          val (b, a) = book.top(3)
          Some(snapLine(Snapshot(sorted(i).key, sorted(i).okey, b, a)))
        }
      }
    }

  private def snapLine(s: Snapshot): String = line(s.instrument, s.ts_us,
    s.bids.map(l => s"${bits(l.price)}:${bits(l.size)}").mkString(","),
    s.asks.map(l => s"${bits(l.price)}:${bits(l.size)}").mkString(","))

  test("L2 book: both runners equal the BookState replay, same-ts deltas and sampling") {
    import spark.implicits._
    check("l2") { samples =>
      val rows = samples.flatMap(_.rows)
      for (sampling <- Seq(None, Some(BucketUs))) {
        val want = bookReplay(rows, sampling)
        Parts.foreach { p =>
          same(s"batch/$p/$sampling", want,
            L2Book.replay(rows.map(_.update).toDF().repartition(p), 3, sampling)
              .collect().toSeq.map(snapLine))
        }
        val cut: Long => Long = c => sampling.fold(c)(w => c / w * w)
        same(s"stream/$sampling", want,
          drain(triggers(samples, cut, _.okey).map(_.map(_.update)))(ds =>
            KeyedFold.runStream(ds, (u: Update) => u.instrument, L2Book.fold(3, sampling)))
            .toSeq.map(r => snapLine(Snapshot(r.getString(0), r.getLong(1),
              r.getSeq[Row](2).map(l => L2Book.Level(l.getDouble(0), l.getDouble(1))),
              r.getSeq[Row](3).map(l => L2Book.Level(l.getDouble(0), l.getDouble(1)))))))
      }
    }
  }

  test("stream runner: the okey-regression guard fails every fold loudly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[ThrottleEvent]
    val q = Streaming.throttleElapsedStream(input.toDS(), 10L)
      .writeStream.outputMode("append").format("memory")
      .queryName("fold_prop_regress").start()
    try {
      input.addData(ThrottleEvent("k", 50L, 1L, 0.0)); q.processAllAvailable()
      input.addData(ThrottleEvent("k", 40L, 2L, 0.0))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def chain(t: Throwable): List[Throwable] = if (t == null) Nil else t :: chain(t.getCause)
      assert(chain(ex).exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("okey regression")), ex.getMessage)
    } finally q.stop()
  }
}
