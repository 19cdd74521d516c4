package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.consumers.{Backtester, Trainer, TrainSplit}

class BacktesterSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  // Mean-reversion on the sine FeatureLabelSet: long 1 below the band,
  // flat otherwise (mid oscillates around 10000 with amplitude 2000).
  private val holdOrFlip: Backtester.Strategy = { r =>
    val mid = r.getDouble(r.fieldIndex("mid_price"))
    if (mid < 9000) 1.0 else 0.0
  }

  test("sequential loop: trades happen and accounting is consistent") {
    val fls = SparkEntry.entry(spark)
    val res = Backtester.run(fls, "ts_us", "mid_price", holdOrFlip,
      initialCash = 100000.0, commissionRate = 0.001)
    assert(res.nTrades > 0)
    assert(res.commissionPaid > 0)
    assert(res.finalEquity == res.finalCash + res.finalPosition * res.lastPrice)
    assert(res.finalPosition == 0.0 || res.finalPosition == 1.0)
  }

  test("sharded backtest: per-shard independent portfolios, all complete") {
    val fls = SparkEntry.entry(spark)
    val results = Backtester.runSharded(fls, "ts_us", "mid_price", holdOrFlip,
      shards = 4, initialCash = 1000.0)
    assert(results.length == 4)
    assert(results.map(_.nTrades).sum > 0)
  }

  test("keyed trade log replays the sequential simulator per key") {
    // runKeyedTrades == Backtester.run per key: same trades, same final
    // cash/position — the distributed fold is the sequential loop.
    import org.apache.spark.sql.functions._
    val fls = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("ts_us", expr("ts div 1000"))
      .select(col("event_type").as("instrument"), col("ts_us"),
        col("event_id").as("seq"), round(col("value")).as("price"),
        when(col("value") > 50, 1.0).otherwise(0.0).as("target"))
    val log = Backtester.runKeyedTrades(fls, "instrument", "ts_us", "seq",
        "price", "target")
      .collect().groupBy(_.getString(0))
    val strat: Backtester.Strategy =
      r => r.getDouble(r.fieldIndex("target"))
    for (k <- log.keys) {
      val seqRes = Backtester.run(
        fls.filter(col("instrument") === k).orderBy("ts_us", "seq"),
        "ts_us", "price", strat)
      val rows = log(k).sortBy(r => (r.getLong(1), r.getLong(2)))
      assert(rows.length.toLong == seqRes.nTrades)
      val last = rows.last
      assert(last.getDouble(last.fieldIndex("cash")) == seqRes.finalCash)
      assert(last.getDouble(last.fieldIndex("position")) == seqRes.finalPosition)
    }
  }

  test("keyed trade log == a (ts, seq)-ordered replay per key, whatever the partitioning") {
    import spark.implicits._
    for (seed <- 1 to 4) {
      val rnd = new scala.util.Random(seed)
      // 40 ts values over 600 rows: every key holds runs of equal-ts
      // rows, told apart only by seq
      val rows = (0 until 600).map(i => (s"k${rnd.nextInt(4)}", rnd.nextLong(40L),
        i.toLong, 100.0 + rnd.nextInt(10), (rnd.nextInt(3) - 1).toDouble))
      val want = rows.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
        val sim = new Backtester.Simulator(0.0, 0.001)
        rs.sortBy(r => (r._2, r._3)).flatMap { case (_, ts, seq, price, target) =>
          sim.step(ts, price, target).map(t => Backtester.TradeRow(k, ts, seq, t.qty,
            price, t.commission, sim.cash, sim.position))
        }
      }.sortBy(t => (t.instrument, t.ts_us, t.seq))
      val fls = rows.toDF("instrument", "ts_us", "seq", "price", "target")
      Seq(1, 3, 7, 13).foreach { n =>
        val got = Backtester.runKeyedTrades(fls.repartition(n), "instrument", "ts_us",
            "seq", "price", "target")
          .as[Backtester.TradeRow].collect().toSeq.sortBy(t => (t.instrument, t.ts_us, t.seq))
        assert(got == want, s"seed=$seed, $n partitions")
      }
    }
  }

  test("fitLinear recovers exact coefficients on a linear target") {
    val spark0 = spark
    import spark0.implicits._
    val df = (0 until 2000).map { i =>
      val a = i * 0.1
      val b = math.sin(i * 0.37) * 5.0
      (a, b, 3.0 + 2.0 * a - 0.5 * b)
    }.toDF("a", "b", "y").repartition(8)
    val m = Trainer.fitLinear(df, Seq("a", "b"), "y")
    assert(math.abs(m.intercept - 3.0) < 1e-6, s"intercept ${m.intercept}")
    assert(math.abs(m.weights(0) - 2.0) < 1e-8)
    assert(math.abs(m.weights(1) + 0.5) < 1e-8)
    // null rows are skipped, not poisoned
    val withNulls = df.unionByName(
      Seq((Double.NaN, 1.0, 1.0)).toDF("a", "b", "y"))
    val m2 = Trainer.fitLinear(withNulls, Seq("a", "b"), "y")
    assert(math.abs(m2.weights(0) - 2.0) < 1e-8)
  }

  test("fitExactMicros: exact integer recovery, truncation, singular guard") {
    val spark0 = spark
    import spark0.implicits._
    // exact-fit linear target -> micro weights are the coefficients x 1e6
    val lin = (0 until 200).map { i =>
      val x1 = (i % 13).toLong; val x2 = (i % 7).toLong
      (x1, x2, 3L - 2L * x1 + x2)
    }.toDF("x1", "x2", "y").repartition(8)
    assert(Trainer.fitExactMicros(lin, Seq("x1", "x2"), "y").toSeq ==
      Seq(3000000L, -2000000L, 1000000L))
    // non-integer solution truncates toward zero on BOTH signs
    val frac = Seq((0L, 0L, 0L), (3L, 1L, 1L), (6L, 5L, 2L))
      .toDF("x1", "x2", "y")
    assert(Trainer.fitExactMicros(frac, Seq("x1", "x2"), "y").toSeq ==
      Seq(0L, 333333L, 0L))
    val nfrac = Seq((0L, 0L, 0L), (3L, 1L, -1L), (6L, 5L, -2L))
      .toDF("x1", "x2", "y")
    assert(Trainer.fitExactMicros(nfrac, Seq("x1", "x2"), "y").toSeq ==
      Seq(0L, -333333L, 0L))
    // collinear features -> singular, refused
    val sing = (0 until 10).map(i => (i.toLong, 2L * i, i.toLong))
      .toDF("x1", "x2", "y")
    intercept[IllegalArgumentException] {
      Trainer.fitExactMicros(sing, Seq("x1", "x2"), "y")
    }
  }

  test("model-backed strategy drives the backtest loop (inference path)") {
    // The flagship label is the sine a quarter period ahead — linearly
    // orthogonal to the features, so this pins the trainer->inference
    // WIRING (fit on the train slice, model called per event row in
    // the loop) plus determinism and accounting, not predictive skill.
    val fls = SparkEntry.entry(spark)
    val (train, test) = TrainSplit.timeSplit(fls, "ts_us", 0.7)
    val features = Seq("mid_price", "volatility")
    val model = Trainer.fitLinear(train, features, "label_mid_price")
    assert(model.weights.length == 2)

    val strat = Trainer.modelStrategy(model, fls.columns.toSeq, features,
      "mid_price")
    val res = Backtester.run(test, "ts_us", "mid_price", strat,
      initialCash = 100000.0, commissionRate = 0.001)
    assert(res.nTrades > 0)
    assert(res.finalEquity == res.finalCash + res.finalPosition * res.lastPrice)
    // determinism: refit + rerun = identical model and result
    val model2 = Trainer.fitLinear(train, features, "label_mid_price")
    assert(model2.intercept == model.intercept &&
      model2.weights.sameElements(model.weights))
    val res2 = Backtester.run(test, "ts_us", "mid_price", strat,
      initialCash = 100000.0, commissionRate = 0.001)
    assert(res2 == res)
  }

  test("model strategy goes flat on null or NaN features, never trades on noise") {
    val model = Trainer.LinearModel(0.0, Array(1.0))
    val strat = Trainer.modelStrategy(model, Seq("f", "price"), Seq("f"), "price")
    import org.apache.spark.sql.Row
    assert(strat(Row(null, 10.0)) == 0.0)
    assert(strat(Row(Double.NaN, 10.0)) == 0.0)
    assert(strat(Row(20.0, 10.0)) == 1.0)
    assert(strat(Row(5.0, 10.0)) == -1.0)
  }

  test("feature-matrix export: libsvm lines and parquet matrix round-trip") {
    val fls = SparkEntry.entry(spark)
    val features = Seq("mid_price", "volatility")
    val dir = java.nio.file.Files.createTempDirectory("graft_matrix").toString

    Trainer.exportLibsvm(fls, features, "label_mid_price", s"$dir/libsvm")
    val lines = spark.read.text(s"$dir/libsvm").collect().map(_.getString(0))
    val expected = fls.filter(org.apache.spark.sql.functions.col("label_mid_price").isNotNull)
      .count()
    assert(lines.length == expected)
    val parts = lines.head.split(" ")
    assert(parts.length == 3 && parts(1).startsWith("1:") && parts(2).startsWith("2:"))

    Trainer.exportMatrix(fls, features, "label_mid_price", s"$dir/matrix")
    val back = spark.read.parquet(s"$dir/matrix")
    assert(back.columns.toSeq == Seq("label", "features"))
    assert(back.count() == fls.count())
    assert(back.selectExpr("size(features)").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(2))
  }

  // ---- the exact regression tree (r16: the nonlinear trainer leg) ----

  /** Separable step fixture: y jumps at f1 = 2; f2 constant (no
    * candidates). Hand-computed greedy expectations in the asserts. */
  private def stepFrame = {
    val spark0 = spark
    import spark0.implicits._
    Seq((1L, 7L, 10L), (2L, 7L, 10L), (3L, 7L, 50L), (4L, 7L, 50L))
      .toDF("f1", "f2", "y").repartition(4)
  }

  test("fitTree: exact greedy splits, hand-computed, on the step fixture") {
    val m = Trainer.fitTree(stepFrame, Seq("f1", "f2"), "y", maxDepth = 1)
    // root: best candidate is f1<=2 (sse 0+0 beats 1068 / 1067); root's
    // own integer-mean sse: m=30, 5200 - 7200 + 3600 = 1600
    val root = m.nodes(1L)
    assert(root.feature.contains("f1") && root.threshold.contains(2L))
    assert(root.n == 4 && root.sumY == 120 && root.sse == 1600)
    assert(root.predMicros == 30000000L)
    val l = m.nodes(2L)
    val r = m.nodes(3L)
    assert(l.isLeaf && l.n == 2 && l.sumY == 20 && l.sse == 0 &&
      l.predMicros == 10000000L)
    assert(r.isLeaf && r.n == 2 && r.sumY == 100 && r.sse == 0 &&
      r.predMicros == 50000000L)
    // prediction surfaces agree: walk, column, frame
    assert(m.predictMicros(Array(1.0, 7.0)) == 10000000L)
    assert(m.predictMicros(Array(3.0, 7.0)) == 50000000L)
    assert(m.predict(Array(3.0, 7.0)) == 50.0)
    val scored = stepFrame.withColumn("p", m.predictColumn)
      .select("f1", "p").collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(scored == Map(1L -> 10000000L, 2L -> 10000000L,
      3L -> 50000000L, 4L -> 50000000L))
    assert(m.treeFrame(spark).count() == 3)
  }

  test("fitTree: tie rule is (sse, featureIdx, threshold); early leaf when single-valued") {
    val spark0 = spark
    import spark0.implicits._
    // both features separate perfectly (sse 0 each): f1 must win the tie
    val tied = Seq((1L, 1L, 10L), (2L, 2L, 20L)).toDF("f1", "f2", "y")
    val mt = Trainer.fitTree(tied, Seq("f1", "f2"), "y", maxDepth = 2)
    assert(mt.nodes(1L).feature.contains("f1") &&
      mt.nodes(1L).threshold.contains(1L))
    // children are single rows -> no candidates -> early leaves at depth 1
    assert(mt.nodes(2L).isLeaf && mt.nodes(3L).isLeaf && mt.nodes.size == 3)
    // all features constant -> root itself is a leaf despite maxDepth
    val const = Seq((5L, 5L, 10L), (5L, 5L, 30L)).toDF("f1", "f2", "y")
    val mc = Trainer.fitTree(const, Seq("f1", "f2"), "y", maxDepth = 2)
    assert(mc.nodes.size == 1 && mc.nodes(1L).isLeaf)
    assert(mc.nodes(1L).predMicros == 20000000L)
    // integer-mean sse at the leaf: m=20, 100+900 - 2*20*40 + 400*2 = 0? no:
    // syy=1000, 1000 - 1600 + 800 = 200
    assert(mc.nodes(1L).sse == 200)
  }

  test("fitTree: integer/nonneg contract is asserted, not silently truncated") {
    val spark0 = spark
    import spark0.implicits._
    val frac = Seq((1.5, 1.0, 10.0), (2.0, 2.0, 20.0)).toDF("f1", "f2", "y")
    intercept[IllegalArgumentException] {
      Trainer.fitTree(frac, Seq("f1", "f2"), "y", maxDepth = 1)
    }
    val negy = Seq((1.0, 1.0, -10.0), (2.0, 2.0, 20.0)).toDF("f1", "f2", "y")
    intercept[IllegalArgumentException] {
      Trainer.fitTree(negy, Seq("f1", "f2"), "y", maxDepth = 1)
    }
  }

  test("fitTree is partitioning-invariant (the exactness claim)") {
    val spark0 = spark
    import spark0.implicits._
    val rows = (0 until 500).map { i =>
      (i % 23L, i % 7L, (i % 23L) * 10 + (i % 7L) * 3)
    }
    val a = Trainer.fitTree(rows.toDF("f1", "f2", "y").repartition(1),
      Seq("f1", "f2"), "y", maxDepth = 3)
    val b = Trainer.fitTree(rows.toDF("f1", "f2", "y").repartition(16),
      Seq("f1", "f2"), "y", maxDepth = 3)
    assert(a.nodes == b.nodes)
  }

  test("fitGBT: train MSE monotone in iterations; exact on the separable fixture") {
    val spark0 = spark
    import spark0.implicits._
    // separable step target with an f2 wrinkle the depth-2 trees can fit
    val df = (0 until 300).map { i =>
      val f1 = (i % 10).toLong
      val f2 = (i % 4).toLong
      (f1, f2, if (f1 <= 4) 10.0 + f2 else 50.0 - f2)
    }.toDF("f1", "f2", "y").repartition(8)
    // train MSE through the fitted Spark model's own frame scorer
    import org.apache.spark.sql.functions.{avg, col, pow}
    val assembled = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("f1", "f2")).setOutputCol("__features")
      .transform(df.select(col("f1").cast("double").as("f1"),
        col("f2").cast("double").as("f2"), col("y")))
    def trainMse(m: Trainer.GBTModelWrapper): Double =
      m.model.transform(assembled)
        .select(avg(pow(col(m.model.getPredictionCol) - col("y"), 2)))
        .head().getDouble(0)
    val mses = Seq(1, 3, 8).map(it => trainMse(
      Trainer.fitGBT(df, Seq("f1", "f2"), "y", maxIter = it, maxDepth = 3)))
    assert(mses(0) >= mses(1) && mses(1) >= mses(2),
      s"train MSE must be monotone nonincreasing in iterations: $mses")
    // stepSize 1.0: the boosted fit reproduces the separable target
    // exactly within a couple of rounds
    val exact = Trainer.fitGBT(df, Seq("f1", "f2"), "y", maxIter = 3,
      maxDepth = 3, stepSize = 1.0)
    assert(trainMse(exact) < 1e-12)
    // and the single-row Model surface agrees with the frame scorer
    assert(math.abs(exact.predict(Array(2.0, 1.0)) - 11.0) < 1e-9)
    assert(math.abs(exact.predict(Array(7.0, 3.0)) - 47.0) < 1e-9)
  }

  test("tree model drives the backtest loop (nonlinear inference path)") {
    // the reference quick-start trains a TREE model and backtests it
    // (trainer_manager.py:128-141 -> inference_loop.py) — graft's
    // equivalent wiring: fitTree on the integer feature frame,
    // modelStrategy adapts it row-wise, the loop fills at price
    import org.apache.spark.sql.functions._
    val base = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("ts_us", expr("ts div 1000"))
      .select(col("ts_us"),
        round(col("value")).cast("double").as("f1"),
        (col("event_id") % 97).cast("double").as("f2"),
        (round(col("value")) + (col("event_id") % 97)).cast("double")
          .as("y"),
        round(col("value")).as("price"))
    val model = Trainer.fitTree(base, Seq("f1", "f2"), "y", maxDepth = 2)
    val strat = Trainer.modelStrategy(model, base.columns.toSeq,
      Seq("f1", "f2"), "price")
    val res = Backtester.run(base, "ts_us", "price", strat,
      initialCash = 1000.0, commissionRate = 0.001)
    assert(res.nTrades > 0)
    assert(res.finalEquity == res.finalCash + res.finalPosition * res.lastPrice)
    // determinism end to end: refit + rerun identical
    val res2 = Backtester.run(base, "ts_us", "price",
      Trainer.modelStrategy(
        Trainer.fitTree(base, Seq("f1", "f2"), "y", maxDepth = 2),
        base.columns.toSeq, Seq("f1", "f2"), "price"),
      initialCash = 1000.0, commissionRate = 0.001)
    assert(res2 == res)
  }

  test("model registry: register -> loadAsOf(version) -> identical predictions (time travel)") {
    import graft.consumers.ModelRegistry
    val root = java.nio.file.Files.createTempDirectory("graft_reg_").toString
    val cat = new graft.sources.BlockCatalog(spark, root)
    val spark0 = spark
    import spark0.implicits._
    val df = (0 until 200).map { i =>
      (i % 13L, i % 5L, (i % 13L) * 7 + (i % 5L))
    }.toDF("f1", "f2", "y")
    val tree1 = Trainer.fitTree(df, Seq("f1", "f2"), "y", maxDepth = 2)
    val v1 = ModelRegistry.register(cat, "pricer", tree1)
    // re-registration (a retrained artifact) bumps the version
    val tree2 = Trainer.fitTree(df, Seq("f1", "f2"), "y", maxDepth = 3)
    val v2 = ModelRegistry.register(cat, "pricer", tree2)
    assert(v2 > v1)
    val probes = Seq(Array(3.0, 2.0), Array(12.0, 4.0), Array(0.0, 0.0))
    // time travel: v1 loads the DEPTH-2 artifact exactly, despite the
    // later registration; latest loads the depth-3 one
    val back1 = ModelRegistry.loadAsOf(cat, "pricer", v1)
    val backLatest = ModelRegistry.load(cat, "pricer")
    probes.foreach { p =>
      assert(back1.predict(p) == tree1.predict(p))
      assert(backLatest.predict(p) == tree2.predict(p))
    }
    back1 match {
      case t: Trainer.TreeModel =>
        assert(t.nodes == tree1.nodes && t.featureCols == Seq("f1", "f2"))
      case other => fail(s"expected a TreeModel back, got $other")
    }
    // linear artifacts ride the same registry
    val lin = Trainer.LinearModel(1.5, Array(2.0, -0.25))
    val v3 = ModelRegistry.register(cat, "pricer", lin)
    val back3 = ModelRegistry.loadAsOf(cat, "pricer", v3)
    probes.foreach(p => assert(back3.predict(p) == lin.predict(p)))
    // and v1 is STILL the depth-2 tree (append-only history)
    probes.foreach(p =>
      assert(ModelRegistry.loadAsOf(cat, "pricer", v1).predict(p)
        == tree1.predict(p)))
  }

  test("fitBoosted: exact ensemble converges on the separable target; surfaces agree") {
    val spark0 = spark
    import spark0.implicits._
    // the fitGBT fixture, integer-valued: (f1<=4, f2) determines y over
    // 8 groups. The INTEGER ensemble converges to within floor
    // resolution, not to zero — a leaf whose residuals span {0, 1} has
    // floor mean 0 and stalls (the exact contract trades the last
    // sub-unit of fit for bit-replayability; fitGBT's float leg is the
    // to-zero fitter). Here: 103290 -> 30 -> 15 -> 15.
    val df = (0 until 300).map { i =>
      val f1 = (i % 10).toLong
      val f2 = (i % 4).toLong
      (f1, f2, if (f1 <= 4) 10L + f2 else 50L - f2)
    }.toDF("f1", "f2", "y").repartition(8)
    val m = Trainer.fitBoosted(df, Seq("f1", "f2"), "y",
      rounds = 3, maxDepth = 3)
    // train SSE nonincreasing over round-prefix ensembles; >99.9% of
    // the base variance explained by round 3
    import org.apache.spark.sql.functions.{col, sum}
    def sse(k: Int): Long = {
      val pm = m.copy(rounds = m.rounds.take(k))
      df.select((col("y").cast("long") - pm.predictColumn).as("d"))
        .agg(sum(col("d") * col("d"))).collect()(0).getLong(0)
    }
    val sses = (0 to 3).map(sse)
    assert(sses.sliding(2).forall(w => w(0) >= w(1)),
      s"round-prefix train SSE must be nonincreasing: $sses")
    assert(sses.last * 1000 < sses.head,
      s"ensemble must explain >99.9% of base SSE: $sses")
    // integer-resolution convergence: every residual within one unit
    val maxAbs = df.select((col("y").cast("long") - m.predictColumn).as("d"))
      .collect().map(r => math.abs(r.getLong(0))).max
    assert(maxAbs <= 1L, s"residuals must be within floor resolution: $maxAbs")
    // driver walker == distributed column, row for row
    val scored = df.withColumn("p", m.predictColumn).collect()
    scored.foreach { r =>
      assert(m.predictUnits(Array(r.getLong(0).toDouble,
        r.getLong(1).toDouble)) == r.getLong(3))
    }
    // boostFrame shape: one base row + nodes per round, contrib integer
    val bf = m.boostFrame(spark).collect()
    assert(bf.count(_.getLong(0) == 0L) == 1)
    assert(bf.map(_.getLong(0)).max == 3L)
  }

  test("fitBoosted is partitioning-invariant and asserts the nonneg contract") {
    val spark0 = spark
    import spark0.implicits._
    val rows = (0 until 500).map { i =>
      (i % 23L, i % 7L, (i % 23L) * 10 + (i % 7L) * 3)
    }
    val a = Trainer.fitBoosted(rows.toDF("f1", "f2", "y").repartition(1),
      Seq("f1", "f2"), "y", rounds = 2, maxDepth = 2)
    val b = Trainer.fitBoosted(rows.toDF("f1", "f2", "y").repartition(16),
      Seq("f1", "f2"), "y", rounds = 2, maxDepth = 2)
    assert(a == b)
    val negy = Seq((1.0, 1.0, -10.0), (2.0, 2.0, 20.0)).toDF("f1", "f2", "y")
    intercept[IllegalArgumentException] {
      Trainer.fitBoosted(negy, Seq("f1", "f2"), "y", rounds = 1, maxDepth = 1)
    }
  }

  test("earlyStopRound: running best + patience window on crafted series") {
    import Trainer.earlyStopRound
    // improving forever: never fires, best = last
    assert(earlyStopRound(Seq(10L, 8L, 5L, 3L), 1) == (3, 3))
    // stall after round 1: stops at 1 + patience, best stays 1
    assert(earlyStopRound(Seq(10L, 3L, 3L, 2L), 1) == (2, 1))
    assert(earlyStopRound(Seq(10L, 3L, 3L, 2L), 2) == (3, 3))
    // nonmonotone: a later new best resets the window
    assert(earlyStopRound(Seq(10L, 4L, 6L, 3L, 5L, 5L), 2) == (5, 3))
    // ties do NOT improve (first achiever keeps best — the oracle's
    // min(round) rule)
    assert(earlyStopRound(Seq(5L, 5L), 1) == (1, 0))
  }

  test("fitBoostedEarlyStop: stops on convergence, returns the best-round prefix") {
    val spark0 = spark
    import spark0.implicits._
    // separable target: y is a function of f2's 4 values alone (f1 is
    // constant — no candidates), so the depth-2 tree isolates every
    // group in round 1 with EXACT integer leaf means; round 2 cannot
    // improve — patience 1 stops at round 2, kept model = 1-round
    // prefix. (A multi-feature greedy tree need not isolate a
    // separable target in depth levels — measured: the first draft of
    // this fixture left residue 6040 — which is exactly why the
    // graded ml_early_stop pins its own fixture's convergence.)
    val df = (0 until 400).map { i =>
      val f2 = (i % 4).toLong
      (1L, f2, f2 * 7 + 3, i % 4 != 0 || i >= 200, i % 4 == 0 && i < 200)
    }.toDF("f1", "f2", "y", "is_train", "is_valid")
    val (m, metrics) = Trainer.fitBoostedEarlyStop(df, Seq("f1", "f2"),
      "y", "is_train", "is_valid", maxRounds = 5, maxDepth = 2)
    assert(metrics.map(_.round) == Seq(0, 1, 2),
      s"stop must fire at round 2: $metrics")
    assert(metrics.count(_.isBest) == 1 && metrics(1).isBest)
    assert(m.rounds.size == 1, "kept model must be the best-round prefix")
    assert(metrics(1).sseValid == 0L, "separable fixture fits exactly")
    // the kept prefix reproduces the target on the valid rows
    import org.apache.spark.sql.functions.col
    val bad = df.filter(col("is_valid"))
      .withColumn("p", m.predictColumn)
      .filter(col("p") =!= col("y")).count()
    assert(bad == 0)
  }

  test("model registry: boosted artifact round-trips with offsets and base intact") {
    import graft.consumers.ModelRegistry
    val root = java.nio.file.Files.createTempDirectory("graft_regb_").toString
    val cat = new graft.sources.BlockCatalog(spark, root)
    val spark0 = spark
    import spark0.implicits._
    val df = (0 until 200).map { i =>
      (i % 13L, i % 5L, (i % 13L) * 7 + (i % 5L))
    }.toDF("f1", "f2", "y")
    val bm = Trainer.fitBoosted(df, Seq("f1", "f2"), "y",
      rounds = 3, maxDepth = 2)
    val v = ModelRegistry.register(cat, "booster", bm)
    val back = ModelRegistry.loadAsOf(cat, "booster", v)
    back match {
      case b: Trainer.BoostedModel =>
        assert(b == bm, "boosted artifact must round-trip exactly")
      case other => fail(s"expected a BoostedModel back, got $other")
    }
    val probes = Seq(Array(3.0, 2.0), Array(12.0, 4.0), Array(0.0, 0.0))
    probes.foreach(p => assert(back.predict(p) == bm.predict(p)))
    // the backtest loop accepts the ensemble (inference path parity)
    val strat = Trainer.modelStrategy(bm, Seq("f1", "f2", "px"),
      Seq("f1", "f2"), "px")
    assert(strat != null)
  }

  test("sequential and sharded loops replay rows sharing a ts in one order, whatever the partitioning") {
    // 1,000 pairs of rows sharing a ts: a buy and a flat target at
    // different prices. Ordered by ts alone, the pair's order followed
    // the input partitioning (2000/1531/1519/1490 trades under 1/3/7/13
    // partitions); ties now break on the remaining columns.
    import spark.implicits._
    val rows = (0 until 1000).flatMap { i =>
      Seq((i.toLong, 100.0 + i % 7, 1.0), (i.toLong, 100.0 + (i * 3) % 5, 0.0))
    }
    val strat: Backtester.Strategy = r => r.getDouble(2)
    val sim = new Backtester.Simulator(0.0, 0.001)
    import Ordering.Double.TotalOrdering
    rows.sorted.foreach { case (ts, price, target) => sim.step(ts, price, target) }
    val fls = rows.toDF("ts_us", "price", "target")
    val nTrades = Seq(1, 3, 7, 13).flatMap { n =>
      Seq(Backtester.run(fls.repartition(n), "ts_us", "price", strat).nTrades,
        Backtester.runSharded(fls.repartition(n), "ts_us", "price", strat,
          shards = 1).head.nTrades)
    }
    assert(nTrades.forall(_ == sim.nTrades), nTrades.mkString("/"))
  }
}
