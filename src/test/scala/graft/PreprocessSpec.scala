package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Preprocess

class PreprocessSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  test("groupNested: equal-key rows collapse into one sorted orders array") {
    val df = Seq(
      (1L, "SNAPSHOT", "bid", 100.0, 5.0),
      (1L, "SNAPSHOT", "ask", 101.0, 3.0),
      (2L, "ADD", "bid", 100.0, 1.0)
    ).toDF("ts_us", "update_type", "side", "price", "size")
    val out = Preprocess.groupNested(df,
      Seq(col("ts_us"), col("update_type")),
      Seq(col("side"), col("price"), col("size")))
      .orderBy("ts_us").collect()
    assert(out.length == 2)
    assert(out(0).getLong(out(0).fieldIndex("n_orders")) == 2)
    val orders = out(0).getSeq[org.apache.spark.sql.Row](out(0).fieldIndex("orders"))
    assert(orders.map(_.getString(0)) == Seq("ask", "bid")) // sorted
  }

  test("throttleElapsed: emits first row then only rows >= window later") {
    val df = Seq(
      ("u", 0L, 1), ("u", 50L, 2), ("u", 100L, 3), ("u", 149L, 4),
      ("u", 260L, 5), ("v", 10L, 6), ("v", 20L, 7)
    ).toDF("k", "ts_us", "id")
    val out = Preprocess.throttleElapsed(df, "ts_us", 100L, Seq("k"), Some("id"))
      .orderBy("k", "ts_us").collect().map(_.getInt(2))
    // u: 0 emit, 50 skip, 100 emit, 149 skip, 260 emit; v: 10 emit, 20 skip
    assert(out.toSeq == Seq(1, 3, 5, 6))
  }

  test("slidingStddevPop: equal-okey peers share one full-run window") {
    // RANGE-frame semantics: peers (same order key) see each other.
    val df = Seq(("k", 100L, 10.0), ("k", 100L, 20.0), ("k", 300L, 30.0))
      .toDF("k", "okey", "v")
    val out = Preprocess.slidingStddevPop(df, "okey", "v", 150L, Seq("k"), "sd")
      .orderBy("okey", "v").collect().map(_.getDouble(3))
    // both okey=100 rows: stddev_pop({10,20}) = 5.0
    assert(out(0) == 5.0 && out(1) == 5.0)
    // okey=300: window (150,300] -> only itself
    assert(out(2) == 0.0)
  }

  test("incremental cents stddev equals the two-pass fold at 4dp (sf0.001)") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("event_type"),
        (expr("ts div 1000") * 1000 + pmod(col("event_id"), lit(1000)))
          .as("okey"),
        round(col("value") * 100).as("c"))
    val d = 86400000000L * 1000L
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select(col("event_id"), round(col("sd"), 4).as("sd"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val inc = asMap(Preprocess.slidingStddevCentsIncremental(
      ev, "okey", "c", d, Seq("event_type"), "sd"))
    // two-pass over the SAME cents inputs, scaled back to value units
    val two = asMap(Preprocess.slidingStddevPop(
        ev, "okey", "c", d, Seq("event_type"), "sd0")
      .select(col("event_id"), (col("sd0") / 100).as("sd")))
    assert(inc == two)
    // the TIME-CHUNKED plan (seeded (chunk, key) groups) is
    // bit-identical to the single-partition-per-key fold — at the
    // window-sized chunk AND at a misaligned odd chunk width
    val chunked = asMap(Preprocess.slidingStddevCentsIncremental(
      ev, "okey", "c", d, Seq("event_type"), "sd", chunkUnits = d))
    assert(chunked == inc)
    val chunkedOdd = asMap(Preprocess.slidingStddevCentsIncremental(
      ev, "okey", "c", d, Seq("event_type"), "sd",
      chunkUnits = d + 777777777L))
    assert(chunkedOdd == inc)
    // the assumeSorted ELISION: caller pre-arranges the contract layout
    // (keys unsplit, (by, okey)-sorted partitions) and the fold rides
    // it without its own exchange or sort
    val preArranged = ev.repartition(col("event_type"))
      .sortWithinPartitions(col("event_type"), col("okey"))
    val elided = asMap(Preprocess.slidingStddevCentsIncremental(
      preArranged, "okey", "c", d, Seq("event_type"), "sd",
      assumeSorted = true))
    assert(elided == inc)
  }

  test("anomalyExactFold equals the declarative integer window rule (sf0.001)") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("event_type"),
        (expr("ts div 1000") * 1000 + pmod(col("event_id"), lit(1000)))
          .as("okey"),
        round(col("value") * 100).cast("long").as("c"))
    val d = 86400000000L * 1000L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("okey").asc)
      .rangeBetween(-d, 0L)
    // z=2 so the fixture has real anomalies (40 at sf0.001; z=3 has 0
    // here — the sf0.01 driver query's z=3 flags 178)
    val decl = ev
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("flag", graft.operators.WindowOps.anomalyExactFlag(
        col("c"), Seq(col("event_type")), col("okey"),
        lookbackUs = 86400000000L, z = 2)) // micros; sliding() scales to okey
      .select(col("event_id"), col("n"),
        when(col("flag"), 1).otherwise(0).as("is_anomaly"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    def fold(chunk: Long) = Preprocess.anomalyExactFold(
        ev, "okey", "c", d, Seq("event_type"), z = 2, chunkUnits = chunk)
      .select(col("event_id"), col("n"), col("is_anomaly"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(fold(0L) == decl)
    assert(fold(d) == decl)                 // window-sized chunks
    assert(fold(d + 777777777L) == decl)    // misaligned odd chunks
    assert(decl.values.exists(_._2 == 1), "vacuous fixture: no anomalies")
  }

  test("slidingTvi fold equals the declarative windowed-sum formulation") {
    import graft.operators.WindowOps
    val D = 24L * 3600000000L
    val e = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("ts_us", expr("ts div 1000"))
    val okey = WindowOps.orderKey(col("ts_us"), col("event_id"))
    val cents = round(col("value") * 100)
    val w = WindowOps.sliding(Seq(col("user_id")), okey, D)
    val b = sum(when(col("event_type") === "purchase", cents)
      .otherwise(lit(0.0))).over(w)
    val sl = sum(when(col("event_type") === "view", cents)
      .otherwise(lit(0.0))).over(w)
    val declarative = e.select(col("event_id"), col("user_id"),
        WindowOps.tviSided(b, sl).as("tvi"))
      .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    val fold = Preprocess.slidingTvi(
        e.select(col("event_id"), col("user_id"), okey.as("okey"),
          when(col("event_type") === "purchase", cents)
            .otherwise(lit(0.0)).as("b"),
          when(col("event_type") === "view", cents)
            .otherwise(lit(0.0)).as("sl")),
        "okey", "b", "sl", D * 1000L, Seq("user_id"), "tvi")
      .collect().map(r => r.getLong(0) -> Option(r.get(5))).toMap
    assert(fold == declarative)
  }

  test("tsViolationsBySeq detects out-of-order timestamps") {
    val ok = Seq(("k", 1L, 1L), ("k", 2L, 2L)).toDF("k", "seq", "ts")
    val bad = Seq(("k", 1L, 5L), ("k", 2L, 3L)).toDF("k", "seq", "ts")
    assert(Preprocess.tsViolationsBySeq(ok, col("ts"), col("seq"), Seq(col("k"))) == 0)
    assert(Preprocess.tsViolationsBySeq(bad, col("ts"), col("seq"), Seq(col("k"))) == 1)
  }

  test("TimeUtils duration grammar") {
    import graft.time.TimeUtils._
    assert(parseMicros("1m") == 60000000L)
    assert(parseMicros("125ms") == 125000L)
    assert(parseMicros("24h") == 86400000000L)
    assert(parseMicros("2d") == 2 * 86400000000L)
    assertThrows[IllegalArgumentException](parseMicros("5x"))
  }
}
