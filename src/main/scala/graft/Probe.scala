package graft

/** Scratch: plan inspection + entry smoke (driver checks rows>0). */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Sessions.local(4)
    val dir = "/root/testdata/sf0.001"
    if (args.sameElements(Array("sql"))) {
      Graft.register(spark, dir)
      spark.sql(
        """SELECT l_returnflag, round(sum(round(l_extendedprice*100))/100, 2) AS rev
          |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin).show()
      spark.sql("SELECT graft_dot(embedding, embedding) AS sq FROM embeddings LIMIT 2").show()
      spark.stop(); return
    }
    if (args.sameElements(Array("ingest"))) {
      // end-to-end ingest drive: csv -> normalize -> blocks -> catalog -> scan
      import org.apache.spark.sql.types._
      val csvDir = java.nio.file.Files.createTempDirectory("probe_csv").toString
      val day0 = 1704067200000000L
      val rows = (0 until 300).map(i =>
        s"${day0 + i * 500000L},${if (i % 2 == 0) "BUY" else "SELL"},1.5,${100 + i % 9},g$i")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$csvDir/raw.csv"),
        "ts_us,taker_side,base_amount,price,guid\n" + rows.mkString("\n"))
      val schema = StructType(Seq(
        StructField("ts_us", LongType), StructField("taker_side", StringType),
        StructField("base_amount", DoubleType), StructField("price", DoubleType),
        StructField("guid", StringType)))
      val cat = new graft.sources.BlockCatalog(spark,
        java.nio.file.Files.createTempDirectory("probe_cat").toString)
      val rep = graft.sources.Ingest.ingestCsv(spark, s"$csvDir/raw.csv", schema,
        df => df.withColumnRenamed("taker_side", "side"),
        cat, "trades", "BTC", "ts_us", rowsPerBlock = 64L)
      val back = cat.scan("trades", "BTC", day0, day0 + 300L * 500000L).count()
      println(s"ingest: rows=${rep.rows} stored=${rep.stored} scanned=$back " +
        s"meta=${cat.meta.count()}")
      spark.stop(); return
    }
    if (args.sameElements(Array("sdparity"))) {
      // end-to-end: file-driven streaming sliding stddev == batch fold
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val src = graft.streaming.Streaming.eventsStream(spark, dir)
        .select(col("event_type").as("key"),
          (expr("ts div 1000") * 1000 + pmod(col("event_id"), lit(1000))).as("okey"),
          col("value"))
        .as[graft.streaming.Streaming.ValueEvent]
      val q = graft.streaming.Streaming.slidingStddevStream(src, 86400000000000L)
        .writeStream.outputMode("append").format("memory").queryName("sdp").start()
      q.processAllAvailable(); q.stop()
      val streamed = spark.table("sdp")
        .select("key", "okey", "stddev").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val batch = graft.operators.Preprocess.slidingStddevPop(
          Tables.events(spark, dir)
            .select(col("event_type").as("key"),
              (expr("ts div 1000") * 1000 + pmod(col("event_id"), lit(1000))).as("okey"),
              col("value")),
          "okey", "value", 86400000000000L, Seq("key"), "stddev")
        .select("key", "okey", "stddev").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
      println(s"sdparity: streamed=${streamed.size} batch=${batch.size} " +
        s"equal=${streamed == batch}")
      // TVI twin over the same replayed file stream
      val tviSrc = graft.streaming.Streaming.eventsStream(spark, dir)
        .select(col("user_id").cast("string").as("key"),
          (expr("ts div 1000") * 1000 + pmod(col("event_id"), lit(1000))).as("okey"),
          round(col("value") * 100).as("notional"),
          (col("event_type") === "purchase").as("isBuy"))
        .as[graft.streaming.Streaming.SidedEvent]
      val q2 = graft.streaming.Streaming.slidingTviStream(tviSrc, 86400000000000L)
        .writeStream.outputMode("append").format("memory").queryName("tvp").start()
      q2.processAllAvailable(); q2.stop()
      val st = spark.table("tvp").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (if (r.isNullAt(2)) null else r.getDouble(2))).toMap
      val bt = Tables.events(spark, dir)
        .select(col("user_id").cast("string").as("key"),
          (expr("ts div 1000") * 1000 + pmod(col("event_id"), lit(1000))).as("okey"),
          graft.operators.WindowOps.tvi(round(col("value") * 100),
            col("event_type") === "purchase",
            Seq(col("user_id").cast("string")),
            (expr("ts div 1000") * 1000 + pmod(col("event_id"), lit(1000))),
            86400000000L).as("tvi"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (if (r.isNullAt(2)) null else r.getDouble(2))).toMap
      println(s"tviparity: streamed=${st.size} batch=${bt.size} equal=${st == bt}")
      spark.stop(); return
    }
    for (q <- args) {
      println(s"========== $q ==========")
      SparkEntry.queries(q)(spark, dir).explain("formatted")
    }
    if (args.isEmpty) {
      val df = SparkEntry.entry(spark)
      println("entry rows=" + df.count())
      // config front-door smoke: JSON config -> Forest -> FeatureLabelSet
      val json =
        """{"ts": "ts_us", "tie": "seq",
          | "features": [{"name": "volatility", "definition": "volatility",
          |   "deps": ["sine"], "params": {"value": "mid_price", "lookback": "1m"}}],
          | "label": {"source": "sine", "lookahead": "5s"}}""".stripMargin
      val src = graft.sources.SyntheticSine(spark, 1704067200000000L,
        1704067200000000L + 3600000000L, 1000000L, freq = 0.05)
        .select(org.apache.spark.sql.functions.col("ts_us"),
          org.apache.spark.sql.functions.col("seq"),
          org.apache.spark.sql.functions.col("mid_price"))
      val cfgDf = graft.core.ConfigParser.buildPlan(
        graft.core.ConfigParser.parse(json), Map("sine" -> src))
      println("config plan rows=" + cfgDf.count() +
        " cols=" + cfgDf.columns.mkString(","))
      // feature-store memoization smoke: 2nd build served from catalog
      locally {
        import spark.implicits._
        import graft.core._
        var calls = 0
        object CountDef extends FeatureDef {
          val name = "probe_count"
          def transform(deps: Seq[org.apache.spark.sql.DataFrame],
              params: Map[String, String]) = { calls += 1; deps.head }
        }
        val root = java.nio.file.Files.createTempDirectory("probe_memo").toString
        val cat = new graft.sources.BlockCatalog(spark, root)
        val srcF = Feature(SourceDef("s"))
        val feat = Feature(CountDef, Map.empty, Seq(srcF))
        val data = Seq((1704067200000000L, 1.0)).toDF("ts_us", "v")
        val r1 = Forest.buildMemoized(Seq(feat), Map("s" -> data), cat)(feat).count()
        val r2 = Forest.buildMemoized(Seq(feat), Map("s" -> data), cat)(feat).count()
        println(s"memo rows=$r1/$r2 transform_calls=$calls (expect 1)")
      }
    }
    spark.stop()
  }
}
