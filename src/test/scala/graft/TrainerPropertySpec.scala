package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.consumers.Trainer
import graft.consumers.Trainer.{BoostedModel, ParamRange, TreeModel, TreeNodeRow, TunerSpec}

/** One generated training row: four integer features (f4 constant), a
  * nonnegative integer label and the train / valid split flags. */
case class TrainRow(f1: Long, f2: Long, f3: Long, f4: Long, y: Long,
    isTrain: Boolean, isValid: Boolean)

/** The exact fits folded over the collected joint histogram (on the
  * driver) against the same kernels folded per partition of the
  * persisted tuples (on the executors), reached by forcing `maxAggRows`
  * one below the tuple count: equal models and graded frames, byte for
  * byte, under 1, 3 and 7 input partitions, at depths 0 to 4 and 1 to 3
  * rounds. Since both folds share their kernels, `fitTree` and
  * `fitBoosted` are also checked against [[RowReplay]], which sums over
  * rows, not tuples. Generated frames repeat tuples (features drawn
  * from six values), hold a constant feature, and plant a block of rows
  * sharing one tuple whose labels stand apart, so trees split it off
  * into an early leaf. */
class TrainerPropertySpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  private val Feats = Seq("f1", "f2", "f3", "f4")
  private val Parts = Seq(1, 3, 7)

  private val genFlags: Gen[(Boolean, Boolean)] =
    Gen.frequency(6 -> (true, false), 3 -> (false, true), 1 -> (true, true),
      1 -> (false, false))

  private val genRows: Gen[Seq[TrainRow]] = for {
    block <- Gen.choose(5, 30).flatMap(n => Gen.listOfN(n, for {
      y <- Gen.choose(90L, 110L)
      fl <- genFlags
    } yield TrainRow(0L, 0L, 0L, 7L, y, fl._1, fl._2)))
    spread <- Gen.listOfN(500, for {
      f1 <- Gen.choose(1L, 5L)
      f2 <- Gen.choose(0L, 5L)
      f3 <- Gen.choose(0L, 5L)
      noise <- Gen.choose(0L, 6L)
      fl <- genFlags
    } yield TrainRow(f1, f2, f3, 7L, 3 * f1 + 2 * (f2 % 3) + f3 / 2 + noise, fl._1, fl._2))
  } yield block ++ spread

  /** (rows, maxDepth, rounds) */
  private val genCase: Gen[(Seq[TrainRow], Int, Int)] = for {
    rows <- genRows
    depth <- Gen.choose(0, 4)
    rounds <- Gen.choose(1, 3)
  } yield (rows, depth, rounds)

  private def check(name: String, n: Int = 3)(
      prop: ((Seq[TrainRow], Int, Int)) => Unit): Unit = {
    val params = Test.Parameters.default.withMinSuccessfulTests(n)
      .withInitialSeed(Seed(name.hashCode.toLong)).withWorkers(1)
    val res = Test.check(params, Prop.forAllNoShrink(genCase) { c => prop(c); true })
    assert(res.passed, s"$name: ${res.status}")
  }

  private def frame(rows: Seq[TrainRow]): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    rows.toDF()
  }

  /** One below the joint histogram's tuple count: forces the
    * distributed fold. Depth-0 fits group by the split flags alone. */
  private def perLevel(rows: Seq[TrainRow], keyFeatures: Boolean,
      flags: Boolean): Int = {
    val read = if (flags) rows.filter(r => r.isTrain || r.isValid) else rows
    read.map { r =>
      (if (keyFeatures) Seq(r.f1, r.f2, r.f3, r.f4) else Nil,
        if (flags) (r.isTrain, r.isValid) else (true, false))
    }.distinct.size - 1
  }

  private def rowsOf(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("fitTree: joint histogram equals the per-level passes") {
    check("fitTree") { case (rows, depth, _) =>
      val df = frame(rows)
      val want = Trainer.fitTree(df.repartition(3), Feats, "y", depth,
        maxAggRows = perLevel(rows, depth > 0, flags = false))
      Parts.foreach { p =>
        val got = Trainer.fitTree(df.repartition(p), Feats, "y", depth)
        assert(got == want, s"depth $depth, $p partitions")
        assert(rowsOf(got.treeFrame(spark)) == rowsOf(want.treeFrame(spark)))
      }
    }
  }

  test("fitBoosted: joint histogram equals the per-level passes") {
    check("fitBoosted") { case (rows, depth, rounds) =>
      val df = frame(rows)
      val want = Trainer.fitBoosted(df.repartition(3), Feats, "y", rounds, depth,
        maxAggRows = perLevel(rows, depth > 0, flags = false))
      Parts.foreach { p =>
        val got = Trainer.fitBoosted(df.repartition(p), Feats, "y", rounds, depth)
        assert(got == want, s"depth $depth, $rounds rounds, $p partitions")
        assert(rowsOf(got.boostFrame(spark)) == rowsOf(want.boostFrame(spark)))
      }
    }
  }

  test("tune: joint histogram equals the per-level passes") {
    check("tune", n = 2) { case (rows, depth, rounds) =>
      val df = frame(rows)
      val spec = TunerSpec(ParamRange(1, rounds), ParamRange(0, depth), numSamples = 3)
      val keyed = Trainer.sampleCandidates(spec).exists(_._3 > 0)
      val want = Trainer.tune(df.repartition(3), Feats, "y", "isTrain", "isValid",
        spec, maxAggRows = perLevel(rows, keyed, flags = true))
      Parts.foreach { p =>
        val got = Trainer.tune(df.repartition(p), Feats, "y", "isTrain", "isValid", spec)
        assert(got == want, s"depth <= $depth, rounds <= $rounds, $p partitions")
        assert(rowsOf(got._1.boostFrame(spark)) == rowsOf(want._1.boostFrame(spark)))
      }
    }
  }

  test("fitBoostedEarlyStop: joint histogram equals the per-level passes") {
    check("fitBoostedEarlyStop") { case (rows, depth, rounds) =>
      val df = frame(rows)
      val want = Trainer.fitBoostedEarlyStop(df.repartition(3), Feats, "y",
        "isTrain", "isValid", rounds, depth,
        maxAggRows = perLevel(rows, depth > 0, flags = true))
      Parts.foreach { p =>
        val got = Trainer.fitBoostedEarlyStop(df.repartition(p), Feats, "y",
          "isTrain", "isValid", rounds, depth)
        assert(got == want, s"depth $depth, $rounds rounds, $p partitions")
        assert(rowsOf(got._1.boostFrame(spark)) == rowsOf(want._1.boostFrame(spark)))
      }
    }
  }

  test("fitTree and fitBoosted equal the row-level replay") {
    check("rowReplay") { case (rows, _, rounds) =>
      val df = frame(rows).repartition(3)
      val xy = rows.map(r => (Array(r.f1, r.f2, r.f3, r.f4), r.y))
      for {
        depth <- 0 to 4
        tree = RowReplay.tree(xy, Feats, depth)
        boosted = RowReplay.boosted(xy, Feats, rounds, depth)
        maxAggRows <- Seq(1 << 22, perLevel(rows, depth > 0, flags = false))
      } {
        val t = Trainer.fitTree(df, Feats, "y", depth, maxAggRows)
        assert(t == tree, s"fitTree depth $depth, maxAggRows $maxAggRows")
        assert(rowsOf(t.treeFrame(spark)) == rowsOf(tree.treeFrame(spark)))
        val b = Trainer.fitBoosted(df, Feats, "y", rounds, depth, maxAggRows)
        assert(b == boosted, s"fitBoosted depth $depth, $rounds rounds, maxAggRows $maxAggRows")
        assert(rowsOf(b.boostFrame(spark)) == rowsOf(boosted.boostFrame(spark)))
      }
    }
  }

  test("a level holds at most features x maxAggRows bins") {
    val spark0 = spark
    import spark0.implicits._
    val y = (i: Int) => (i * 37L) % 101
    // 200 distinct tuples, each feature 200 values: the root level
    // alone has 2 x 200 bins
    val raw = (0 until 200).map(i => (i.toLong, i.toLong, y(i))).toDF("f1", "f2", "y")
    val e = intercept[IllegalArgumentException] {
      Trainer.fitTree(raw, Seq("f1", "f2"), "y", 2, maxAggRows = 150)
    }
    assert(e.getMessage == "requirement failed: tree level has 400 (node, feature, " +
      "value) bins > 2 features x maxAggRows=150 — pre-bucketize continuous features")
    // bucketized to 100 and 101 values, still 200 distinct tuples: past
    // maxAggRows, so the fit folds on the executors, within the bound
    val bucketed = (0 until 200).map(i => (i / 2L, (i + 1) / 2L, y(i)))
      .toDF("f1", "f2", "y")
    assert(Trainer.fitTree(bucketed, Seq("f1", "f2"), "y", 2, maxAggRows = 150) ==
      Trainer.fitTree(bucketed, Seq("f1", "f2"), "y", 2))
  }

  /** The four fits over `df`, each at `maxAggRows`, as their error
    * messages. */
  private def errors(df: DataFrame, maxAggRows: Int): Seq[String] = {
    val spec = TunerSpec(ParamRange(1, 2), ParamRange(1, 2), numSamples = 2)
    Seq[() => Any](
      () => Trainer.fitTree(df, Seq("f1", "f2"), "y", 2, maxAggRows),
      () => Trainer.fitBoosted(df, Seq("f1", "f2"), "y", 2, 2, maxAggRows),
      () => Trainer.tune(df, Seq("f1", "f2"), "y", "tr", "va", spec, maxAggRows),
      () => Trainer.fitBoostedEarlyStop(df, Seq("f1", "f2"), "y", "tr", "va",
        2, 2, maxAggRows = maxAggRows)
    ).map(fit => intercept[IllegalArgumentException](fit()).getMessage
      .stripPrefix("requirement failed: "))
  }

  test("contract errors read the same from both sources") {
    val spark0 = spark
    import spark0.implicits._
    def rows(f1: Double, y: Option[Double]) =
      Seq((f1, 1.0, y, true, false), (2.0, 2.0, Some(20.0), true, true),
        (3.0, 1.0, Some(30.0), false, true))
        .toDF("f1", "f2", "y", "tr", "va")
    val exact = "fitTree needs integer-valued features and a nonnegative " +
      "integer-valued label (the exact-oracle contract)"
    val faults = Map(
      "fractional feature" -> (rows(1.5, Some(10.0)), Seq.fill(4)(exact)),
      "negative label" -> (rows(1.0, Some(-10.0)), Seq(exact,
        "fitBoosted needs a nonnegative integer label (the exact contract)",
        "fitBoosted needs a nonnegative integer label (the exact contract)",
        "fitBoostedEarlyStop needs a nonnegative integer label")),
      "null label" -> (rows(1.0, None), Seq.fill(4)(exact)))
    faults.foreach { case (fault, (df, want)) =>
      assert(errors(df, 1 << 22) == want, fault)
      assert(errors(df, 0) == want, s"$fault, distributed fold")
    }
  }

  test("tune and fitBoostedEarlyStop require a nonempty valid split") {
    val spark0 = spark
    import spark0.implicits._
    val df = (0 until 40)
      .map(i => (i % 5L, i % 3L, (i % 5L) * 4 + i % 3L, true, false))
      .toDF("f1", "f2", "y", "tr", "va")
    Seq(1 << 22, 0).foreach { maxAggRows =>
      val t = intercept[IllegalArgumentException] {
        Trainer.tune(df, Seq("f1", "f2"), "y", "tr", "va",
          TunerSpec(ParamRange(1, 2), ParamRange(1, 2), numSamples = 3), maxAggRows)
      }
      assert(t.getMessage ==
        "requirement failed: tune needs a nonempty valid split: no row has va set")
      val e = intercept[IllegalArgumentException] {
        Trainer.fitBoostedEarlyStop(df, Seq("f1", "f2"), "y", "tr", "va",
          maxRounds = 3, maxDepth = 2, maxAggRows = maxAggRows)
      }
      assert(e.getMessage == "requirement failed: " +
        "fitBoostedEarlyStop needs a nonempty valid split: no row has va set")
    }
  }
}

/** Plain-Scala replay of the exact fits over ROWS (the rules of
  * tools/design_tree.py and tools/design_boost.py): every node's count,
  * label sum and sum of squares are summed over its own rows, every
  * candidate split partitions those rows, and each boosting round refits
  * the shifted residual of every row. No tuple, histogram or prefix scan. */
object RowReplay {
  type XY = (Array[Long], Long)

  private def sse(rows: Seq[XY]): BigInt = {
    val sy = rows.map(r => BigInt(r._2)).sum
    val m = sy / rows.size
    rows.map(r => (BigInt(r._2) - m).pow(2)).sum
  }

  /** The greedy tree: per node, the least (sse_L + sse_R, featureIdx,
    * threshold) over every feature value below the node's max on that
    * feature; no candidate, or depth `maxDepth`, makes a leaf. */
  def tree(rows: Seq[XY], feats: Seq[String], maxDepth: Int): TreeModel = {
    def grow(id: Long, depth: Int, rs: Seq[XY]): Seq[TreeNodeRow] = {
      val cands = if (depth == maxDepth) Nil else for {
        fi <- feats.indices
        v <- rs.map(_._1(fi)).distinct.sorted.init
      } yield {
        val (l, r) = rs.partition(_._1(fi) <= v)
        (sse(l) + sse(r), fi, v)
      }
      val sy = rs.map(_._2).sum
      val own = TreeNodeRow(id, depth, rs.size.toLong, sy, sse(rs).toLong, None, None)
      if (cands.isEmpty) Seq(own)
      else {
        val (_, fi, v) = cands.min
        val (l, r) = rs.partition(_._1(fi) <= v)
        own.copy(feature = Some(feats(fi)), threshold = Some(v)) +:
          (grow(id * 2, depth + 1, l) ++ grow(id * 2 + 1, depth + 1, r))
      }
    }
    TreeModel(feats, grow(1L, 0, rows).map(n => n.node -> n).toMap)
  }

  /** The leaf's floor mean in the label's scale for `x`. */
  private def leafUnit(t: TreeModel, feats: Seq[String], x: Array[Long]): Long = {
    var n = t.nodes(1L)
    while (!n.isLeaf) {
      val id = if (x(feats.indexOf(n.feature.get)) <= n.threshold.get) n.node * 2
        else n.node * 2 + 1
      n = t.nodes(id)
    }
    n.sumY / n.n
  }

  /** Base = floor mean; each round fits the tree to `y - pred - off`,
    * off the least residual, and adds its leaf's floor mean plus off. */
  def boosted(rows: Seq[XY], feats: Seq[String], rounds: Int,
      maxDepth: Int): BoostedModel = {
    val sy = rows.map(_._2).sum
    val base = sy / rows.size
    var preds = rows.map(_ => base)
    val trees = (1 to rounds).map { _ =>
      val resid = rows.zip(preds).map { case (r, p) => r._2 - p }
      val off = resid.min
      val t = tree(rows.zip(resid).map { case (r, e) => (r._1, e - off) }, feats, maxDepth)
      preds = rows.zip(preds).map { case (r, p) => p + leafUnit(t, feats, r._1) + off }
      (t, off)
    }
    BoostedModel(feats, base, rows.size.toLong, sy, sse(rows).toLong, trees)
  }
}
