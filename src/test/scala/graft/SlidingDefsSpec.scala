package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.core.BuiltinDefs
import graft.operators.WindowOps

/** The forest's sliding nodes (VolatilityDef, TviDef) run on the
  * KeyedFold batch runner; WindowOps.volatility / tvi are the
  * declarative RANGE-frame forms they must equal, within 1e-12 per
  * cell: equal-ts ties broken by seq, equal-okey peers (seqs 1000
  * apart), null values, notionals and sides, a key whose buy side is
  * null in every window, and configs with and without `by`. */
class SlidingDefsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  private val LookbackUs = 4L

  private def trades: DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val rnd = new scala.util.Random(7)
    def maybe[T](p: Double, v: T): Option[T] = if (rnd.nextDouble() < p) None else Some(v)
    val rows = (0 until 600).map { i =>
      val inst = s"i${i % 3}"
      val ts = rnd.nextInt(40).toLong
      // every 7th row shares its okey with a peer: seq differs by 1000
      val seq = if (i % 7 == 0) i.toLong + 1000L else i.toLong
      val first = i < 3 // each key's first row is null everywhere
      (inst, ts, seq,
        if (first) None else maybe(0.1, 100.0 + rnd.nextInt(1000) / 7.0),
        if (first) None else maybe(0.1, rnd.nextInt(5000) / 3.0),
        if (first) None else maybe(0.1, rnd.nextBoolean()))
    } ++ (0 until 20).map { i =>
      // a key whose buy side is null in every window, its rows spaced
      // past the lookback so even the one-key config sees them alone
      ("z", 100L + 10L * i, 5000L + i, None, None, Some(true))
    }
    rows.toDF("instrument", "ts_us", "seq", "price", "notional", "is_buy")
      .repartition(3)
  }

  private def same(fold: DataFrame, window: DataFrame, out: String,
      keys: Seq[String]): Unit = {
    val got = fold.select((keys :+ out).map(col): _*).collect()
    val want = window.select((keys :+ out).map(col): _*).collect()
      .map(r => keys.indices.map(r.get) -> r.get(keys.size)).toMap
    assert(got.length == want.size && got.length > 0)
    var nulls = 0
    got.foreach { r =>
      val w = want(keys.indices.map(r.get))
      if (w == null) { nulls += 1; assert(r.isNullAt(keys.size), s"$out at $r: want null") }
      else assert(!r.isNullAt(keys.size) &&
        math.abs(r.getDouble(keys.size) - w.asInstanceOf[Double]) <= 1e-12,
        s"$out at $r: want $w")
    }
    assert(nulls > 0, s"$out: the fixture must reach the null cells")
  }

  private def windowed(df: DataFrame, by: Seq[Column], out: String,
      feature: (Seq[Column], Column) => Column): DataFrame =
    df.select((by ++ Seq(col("ts_us"), col("seq")) :+
      feature(by, WindowOps.orderKey(col("ts_us"), col("seq"))).as(out)): _*)

  Seq(Some("instrument"), None).foreach { by =>
    val byCols = by.toSeq.map(col)
    val params = Map("ts" -> "ts_us", "seq" -> "seq",
      "lookback_us" -> LookbackUs.toString) ++ by.map("by" -> _)
    val keys = by.toSeq ++ Seq("ts_us", "seq")
    val tag = by.fold("no by")(b => s"by $b")

    test(s"VolatilityDef equals WindowOps.volatility ($tag)") {
      val df = trades
      same(BuiltinDefs.VolatilityDef.transform(Seq(df), params + ("value" -> "price")),
        windowed(df, byCols, "volatility",
          (b, okey) => WindowOps.volatility(col("price"), b, okey, LookbackUs)),
        "volatility", keys)
    }

    test(s"TviDef equals WindowOps.tvi ($tag)") {
      val df = trades
      same(BuiltinDefs.TviDef.transform(Seq(df),
          params ++ Map("notional" -> "notional", "is_buy" -> "is_buy")),
        windowed(df, byCols, "tvi",
          (b, okey) => WindowOps.tvi(col("notional"), col("is_buy"), b, okey, LookbackUs)),
        "tvi", keys)
    }
  }
}
