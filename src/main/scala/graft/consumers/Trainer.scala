package graft.consumers

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.reflect.ClassTag

/** Minimal trainer + model-backed inference hookup for the
  * FeatureLabelSet (svoe `trainer/trainer_manager.py:52-208` fits
  * XGBoost over the featurizer output; `backtester/inference/
  * inference_loop.py:35-90` serves the model inside the backtest loop).
  *
  * JVM-side equivalent without new dependencies:
  *   - `fitLinear`: distributed closed-form ridge regression — one
  *     `treeAggregate` pass accumulates the (k+1)x(k+1) normal
  *     equations (X'X, X'y), solved driver-side by Gaussian
  *     elimination. Scales to any row count (the shuffle is a
  *     fixed-size matrix per partition) and any executor count.
  *   - `Model`: the prediction surface the backtester consumes;
  *     `modelStrategy` adapts it to a `Backtester.Strategy`, which IS
  *     the reference's inference-in-the-loop (model called per event
  *     row, synchronously — the async batching in the reference is a
  *     serving optimization, not a semantic).
  *   - `exportLibsvm` / `exportMatrix`: the feature-matrix handoff for
  *     external learners (LibSVM text is XGBoost's native input; the
  *     parquet matrix keeps full fidelity).
  */
object Trainer {

  /** A fitted model: feature vector (in `featureCols` order) → score. */
  trait Model extends Serializable {
    def predict(features: Array[Double]): Double
  }

  final case class LinearModel(intercept: Double, weights: Array[Double])
      extends Model {
    def predict(features: Array[Double]): Double = {
      var acc = intercept
      var i = 0
      while (i < weights.length) { acc += weights(i) * features(i); i += 1 }
      acc
    }
  }

  /** Closed-form ridge fit of `labelCol ~ featureCols` with intercept:
    * one distributed pass accumulating the augmented normal equations,
    * then a (k+1)-dim solve on the driver. `lambda` regularizes the
    * diagonal (not the intercept). Rows with any null/NaN feature or
    * label are skipped. */
  /** The distributed half of the fit: one treeAggregate pass over
    * (features, label) accumulating the augmented normal equations
    * `[X'X | X'y]` as a (d*d + d)-double array, d = #features + 1
    * (intercept column of ones). Null/NaN rows are skipped. */
  private def accumulateNormalEquations(df: DataFrame,
      featureCols: Seq[String], labelCol: String): Array[Double] = {
    val k = featureCols.size
    val d = k + 1
    val cols = (featureCols :+ labelCol).map(c => col(c).cast("double"))
    val rows = df.select(cols: _*).rdd
    val zero = new Array[Double](d * d + d)
    def seq(acc: Array[Double], r: Row): Array[Double] = {
      var bad = false
      var i = 0
      while (i < d && !bad) { bad = r.isNullAt(i) || r.getDouble(i).isNaN; i += 1 }
      if (!bad) {
        val x = new Array[Double](d)
        x(0) = 1.0
        var j = 0
        while (j < k) { x(j + 1) = r.getDouble(j); j += 1 }
        val y = r.getDouble(k)
        var a = 0
        while (a < d) {
          var b = 0
          while (b < d) { acc(a * d + b) += x(a) * x(b); b += 1 }
          acc(d * d + a) += x(a) * y
          a += 1
        }
      }
      acc
    }
    def comb(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }
    rows.treeAggregate(zero)(seq, comb)
  }

  /** The normal-equations pass exposed as a frame for verification:
    * (i, j, value) rows over the augmented design matrix — i indexes
    * [intercept, features...], j == d is the X'y column. With
    * INTEGER-VALUED features and label every partial sum is exact
    * (below 2^53 addition of integers is associative), so the frame is
    * order-independent and cross-engine hash-comparable — the
    * scale-critical distributed aggregation of [[fitLinear]] sits
    * under an exact oracle while the O(d^3) driver solve stays local. */
  def normalEquations(df: DataFrame, featureCols: Seq[String],
      labelCol: String): DataFrame = {
    val d = featureCols.size + 1
    val acc = accumulateNormalEquations(df, featureCols, labelCol)
    val spark = df.sparkSession
    import spark.implicits._
    (for { i <- 0 until d; j <- 0 to d } yield
      (i, j, if (j < d) acc(i * d + j) else acc(d * d + i)))
      .toDF("i", "j", "value")
  }

  /** EXACT-INTEGER least squares for TWO features + intercept, solved
    * by Cramer's rule over the collected normal equations — the fit
    * half of the model-based quality filter
    * ([[graft.operators.TextAnalysis.modelQualityScores]]). With
    * integer-valued features and label, the distributed accumulation
    * is order-independent ([[normalEquations]] scaladoc) and the
    * driver solve is BigInt arithmetic, so the learned weights are
    * bit-identical across engines and partitionings — no float solve
    * anywhere. Weights come back as MICROS: `w_i = trunc(1e6 *
    * adj(A)b_i / det(A))`, truncation toward zero sign-factored so
    * DuckDB's positive-operand `//` replays it exactly.
    *
    * `acc` layout: [n, s1, s2, s11, s12, s22, sy, s1y, s2y] (A
    * symmetric, b the last three). Magnitude bound: |adj·b|·1e6 must
    * stay under ~1.7e38 (int128) — with features below ~1e4 that
    * holds for seed sets up to ~1e7 rows; bound the seed with a hash
    * sample (the DCLM shape: seeds are small, scoring is corpus-wide),
    * not by feeding the full corpus to the fit. */
  def cramerMicroWeights3(acc: Array[BigInt]): Array[Long] = {
    require(acc.length == 9, s"need 9 sums, got ${acc.length}")
    val Array(n, s1, s2, s11, s12, s22, sy, s1y, s2y) = acc
    val c00 = s11 * s22 - s12 * s12
    val c01 = -(s1 * s22 - s12 * s2)
    val c02 = s1 * s12 - s11 * s2
    val c11 = n * s22 - s2 * s2
    val c12 = -(n * s12 - s1 * s2)
    val c22 = n * s11 - s1 * s1
    val det = n * c00 + s1 * c01 + s2 * c02
    require(det != 0, "singular normal equations: features collinear on the seed")
    val nums = Array(
      c00 * sy + c01 * s1y + c02 * s2y,
      c01 * sy + c11 * s1y + c12 * s2y,
      c02 * sy + c12 * s1y + c22 * s2y)
    nums.map { wn =>
      val sign = if ((wn < 0) != (det < 0)) -1L else 1L
      sign * ((wn.abs * 1000000) / det.abs).toLong
    }
  }

  /** [[cramerMicroWeights3]] over a distributed frame: one exact
    * treeAggregate pass (integer-valued doubles, asserted), BigInt
    * solve on the driver. */
  def fitExactMicros(df: DataFrame, featureCols: Seq[String],
      labelCol: String): Array[Long] = {
    require(featureCols.size == 2, "exact Cramer fit supports exactly 2 features")
    val a = accumulateNormalEquations(df, featureCols, labelCol)
    // acc layout from accumulate: A row-major (d*d) then b (d), d=3
    val picked = Array(a(0), a(1), a(2), a(4), a(5), a(8), a(9), a(10), a(11))
    require(picked.forall(v => v.isWhole && math.abs(v) < 9.007199254740992e15),
      "exact fit needs integer-valued features/label within 2^53")
    cramerMicroWeights3(picked.map(v => BigInt(v.toLong)))
  }

  def fitLinear(df: DataFrame, featureCols: Seq[String], labelCol: String,
      lambda: Double = 1e-8): LinearModel = {
    val k = featureCols.size
    val d = k + 1 // augmented with the intercept column of ones
    val acc = accumulateNormalEquations(df, featureCols, labelCol)

    // solve (X'X + lambda*I_noIntercept) w = X'y, partial pivoting
    val m = Array.tabulate(d, d + 1) { (i, j) =>
      if (j < d) acc(i * d + j) + (if (i == j && i > 0) lambda else 0.0)
      else acc(d * d + i)
    }
    var colIdx = 0
    while (colIdx < d) {
      var p = colIdx
      var r2 = colIdx + 1
      while (r2 < d) { if (math.abs(m(r2)(colIdx)) > math.abs(m(p)(colIdx))) p = r2; r2 += 1 }
      val t = m(colIdx); m(colIdx) = m(p); m(p) = t
      require(math.abs(m(colIdx)(colIdx)) > 1e-12,
        s"singular normal equations at pivot $colIdx — " +
          "feature collinear or constant; raise lambda")
      var r3 = 0
      while (r3 < d) {
        if (r3 != colIdx) {
          val f = m(r3)(colIdx) / m(colIdx)(colIdx)
          var c2 = colIdx
          while (c2 <= d) { m(r3)(c2) -= f * m(colIdx)(c2); c2 += 1 }
        }
        r3 += 1
      }
      colIdx += 1
    }
    val sol = Array.tabulate(d)(i => m(i)(d) / m(i)(i))
    LinearModel(sol(0), sol.drop(1))
  }

  // ------------------------------------------------------------------
  // Depth-bounded EXACT regression tree (r16) — the nonlinear trainer
  // leg. The reference's trainer fits XGBoost over the FeatureLabelSet
  // (svoe trainer/trainer_manager.py:11 XGBoostTrainer import, :21-40
  // XGBoostParams, :128-141 _build_xgboost_trainer); this is the
  // exactly-replayable core of that semantics — a greedy histogram
  // tree whose every comparison is integer arithmetic, so the fit is
  // bit-identical across engines and partitionings and sits under the
  // driver's exact-hash oracle (ml_tree_fit). [[fitGBT]] below is the
  // full-strength MLlib boosted-tree leg, spec-pinned against it.
  //
  // Determinism rules (the cramerMicroWeights3 discipline, tree
  // edition):
  //  - features and label must be INTEGER-VALUED (asserted on the
  //    collected tuple keys and label counts, zero extra scans); label
  //    >= 0 so that integer division is floor == trunc in both engines;
  //  - node prediction = integer-truncated mean, pred_micros =
  //    (sum_y * 1e6) // n;
  //  - split score = SSE_L + SSE_R where a group's SSE uses the
  //    integer-truncated mean m = sum // cnt:
  //    sse = sumsq - 2*m*sum + m*m*cnt — an exact integer, so argmin
  //    with the total tie order (sse, featureIdx, threshold) replays
  //    in SQL (this is the documented deviation from variance-gain
  //    CART, the same canonicalization move as bucket-vs-elapsed
  //    sampling);
  //  - candidates = the feature's distinct values present in the node
  //    minus its max (left: f <= v, right: f > v — both nonempty by
  //    construction); a node with no candidate becomes a leaf early.
  //
  // Scale shape (the XGBoost histogram approach, to its fixed point):
  // the rows sharing a feature tuple fall into the same node at every
  // level and get the same prediction in every round, so ONE
  // distributed groupBy over the feature tuple (count, label sum, sum
  // of squares, min — map-side combinable) is a sufficient statistic
  // for the whole fit, and every level's (node, featureIdx, value)
  // histogram, every boosting round's shifted residual and every
  // valid-split SSE follow from it in exact integer arithmetic. One
  // kernel per statistic runs over those tuples wherever they live:
  // within `maxAggRows` tuples they are collected and the fit runs on
  // the driver (ONE corpus pass per fit, whatever the depth, rounds or
  // candidates); past it the aggregated tuple frame stays persisted on
  // the executors and each summary, level and valid step is one pass
  // over it, merged by treeReduce. A level holds at most features x
  // `maxAggRows` bins, a bound the driver side never reaches; past it
  // CONTINUOUS features must be pre-bucketized by the caller (floor to
  // a grid) — the same cap discipline as the BPE merge tables.
  // ------------------------------------------------------------------

  /** One fitted tree node; heap numbering (root 1, children 2n/2n+1).
    * `feature`/`threshold` empty = leaf. `sse` is the node's OWN
    * integer-mean SSE (not the split gain). */
  final case class TreeNodeRow(node: Long, depth: Int, n: Long, sumY: Long,
      sse: Long, feature: Option[String], threshold: Option[Long]) {
    def isLeaf: Boolean = feature.isEmpty
    def predMicros: Long = ((BigInt(sumY) * 1000000L) / n).toLong
  }

  /** A fitted depth-bounded regression tree. `predict` returns
    * pred_micros / 1e6 (the [[Model]] contract); exact consumers use
    * [[predictMicros]] / [[predictColumn]]. */
  final case class TreeModel(featureCols: Seq[String],
      nodes: Map[Long, TreeNodeRow]) extends Model {

    private val fIdx: Map[String, Int] = featureCols.zipWithIndex.toMap

    /** The node `features` reach: the first leaf on their path, or the
      * first node the tree does not hold yet (a partial fit's frontier). */
    private[consumers] def reach(features: Array[Double]): Long = {
      var id = 1L
      var row = nodes.get(id)
      while (row.exists(!_.isLeaf)) {
        val r = row.get
        id = if (features(fIdx(r.feature.get)) <= r.threshold.get.toDouble)
          id * 2 else id * 2 + 1
        row = nodes.get(id)
      }
      id
    }

    def predictMicros(features: Array[Double]): Long =
      nodes(reach(features)).predMicros

    def predict(features: Array[Double]): Double =
      predictMicros(features) / 1e6

    /** [[reach]] as ONE nested CASE expression over the input columns,
      * each reached node replaced by `at(node)` — codegen'd, zero
      * shuffle, depth comparisons per row. */
    private def caseColumn(at: Long => Column): Column = {
      def go(id: Long): Column = nodes.get(id) match {
        case Some(r) if !r.isLeaf =>
          when(col(r.feature.get) <= lit(r.threshold.get), go(id * 2))
            .otherwise(go(id * 2 + 1))
        case _ => at(id)
      }
      go(1L)
    }

    /** The distributed scorer: pred_micros (LongType). */
    def predictColumn: Column = caseColumn(id => lit(nodes(id).predMicros))

    /** Leaf value in the LABEL'S OWN integer scale — floor mean
      * `sum_y / n` (both nonneg under the fit contract, so `/` = floor
      * = DuckDB `//`). The boosting contribution unit ([[fitBoosted]]);
      * [[predMicros]] is the micro-scaled variant single trees grade
      * under. */
    def leafUnit(id: Long): Long = {
      val r = nodes(id)
      r.sumY / r.n
    }

    /** The tree as ONE nested CASE over the input columns, leaves in
      * unit scale ([[leafUnit]]) — the distributed boosting scorer. */
    def leafUnitColumn: Column = caseColumn(id => lit(leafUnit(id)))

    /** The fit as a frame — the graded/registry surface: one row per
      * node, all-integer columns (ml_tree_fit's oracle shape). */
    def treeFrame(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      nodes.values.toSeq.sortBy(_.node)
        .map(r => (r.node, r.depth.toLong, r.n, r.sumY, r.sse,
          r.feature.orNull, r.threshold.map(Long.box).orNull,
          r.predMicros, r.isLeaf))
        .toDF("node", "depth", "n", "sum_y", "sse", "feature",
          "threshold", "pred_micros", "is_leaf")
    }
  }

  /** Rebuild a [[TreeModel]] from its [[TreeModel.treeFrame]] rows —
    * the registry read path. */
  def treeFromRows(featureCols: Seq[String], rows: Seq[Row]): TreeModel =
    TreeModel(featureCols, rows.map { r =>
      val node = TreeNodeRow(r.getLong(r.fieldIndex("node")),
        r.getLong(r.fieldIndex("depth")).toInt,
        r.getLong(r.fieldIndex("n")), r.getLong(r.fieldIndex("sum_y")),
        r.getLong(r.fieldIndex("sse")),
        Option(r.getAs[String]("feature")),
        if (r.isNullAt(r.fieldIndex("threshold"))) None
        else Some(r.getLong(r.fieldIndex("threshold"))))
      node.node -> node
    }.toMap)

  private def intSse(c: Long, sy: BigInt, syy: BigInt): BigInt = {
    val m = sy / c // sy >= 0 asserted: floor == trunc
    syy - 2 * m * sy + m * m * c
  }

  /** `v` as a Long; out of range throws, as Spark's ANSI long sums do. */
  private def exactLong(v: BigInt): Long = {
    if (!v.isValidLong) throw new ArithmeticException(s"long overflow: $v")
    v.toLong
  }

  /** A nullable aggregate (a sum or min over no rows) with a default. */
  private def longOr(r: Row, i: Int, dflt: Long): Long =
    if (r.isNullAt(i)) dflt else r.getLong(i)

  /** One level-histogram row: the training rows of `node` whose feature
    * `fi` equals `v`, with their count, label sum, label sum of squares
    * and label min. */
  private final case class Bin(node: Long, fi: Int, v: Long, c: Long,
      sy: Long, syy: Long, mn: Long) {
    def +(o: Bin): Bin = copy(c = c + o.c, sy = Math.addExact(sy, o.sy),
      syy = Math.addExact(syy, o.syy), mn = math.min(mn, o.mn))
  }

  /** The split search: grow the exact tree level by level,
    * `level(frontier, partial)` returning the histogram of the
    * frontier's rows under the tree fixed so far; `root` is the whole
    * training set as one bin (read only when maxDepth = 0). Per
    * frontier node, a prefix scan over each feature's sorted values
    * scores every candidate, the argmin in (sse, featureIdx, threshold)
    * order splits it, and a node without a candidate becomes a leaf
    * early.
    *
    * The last level's leaf stats (n, sum, sumsq, min) are DERIVED from
    * the parent level's histogram — the rows of a child node are
    * exactly the parent's (feature*, value) rows on its side of the
    * threshold — so `maxDepth` levels are read, not `maxDepth + 1`.
    * Also returns `min(label - leafUnit)` over the fitted assignment:
    * the NEXT boosting round's shift offset ([[fitBoosted]]), exactly
    * equal because a global min is the min of per-leaf mins. */
  private def growTree(featureCols: Seq[String], maxDepth: Int,
      root: () => Bin,
      level: (Set[Long], TreeModel) => Seq[Bin]): (TreeModel, Long) = {
    val k = featureCols.size
    var nodes = Map.empty[Long, TreeNodeRow]
    // per-leaf min label, filled as leaves are fixed — early leaves from
    // their own histogram slice, last-level children from the parent's
    val leafMin = mutable.Map.empty[Long, Long]
    def leaf(id: Long, depth: Int, c: Long, sy: BigInt, syy: BigInt,
        mn: Long): Unit = {
      nodes += id -> TreeNodeRow(id, depth, c, sy.toLong,
        intSse(c, sy, syy).toLong, None, None)
      leafMin(id) = mn
    }
    if (maxDepth == 0) {
      val r = root()
      leaf(1L, 0, r.c, r.sy, r.syy, r.mn)
    }
    var frontier: Set[Long] = if (maxDepth == 0) Set.empty else Set(1L)
    var depth = 0
    while (depth < maxDepth && frontier.nonEmpty) {
      val lastLevel = depth == maxDepth - 1
      val byNode = level(frontier, TreeModel(featureCols, nodes)).groupBy(_.node)
      val next = mutable.Set.empty[Long]
      // children of a split are nonempty by construction, so every
      // frontier node has bins, for every feature
      frontier.foreach { id =>
        val byFi = byNode(id).groupBy(_.fi).map { case (fi, bs) => fi -> bs.sortBy(_.v) }
        val f0 = byFi(0)
        val c = f0.map(_.c).sum
        val sy = f0.map(b => BigInt(b.sy)).sum
        val syy = f0.map(b => BigInt(b.syy)).sum
        var best: Option[(BigInt, Int, Long)] = None
        (0 until k).foreach { fi =>
          var cl = 0L
          var syl = BigInt(0)
          var syyl = BigInt(0)
          byFi(fi).dropRight(1).foreach { b =>
            cl += b.c; syl += b.sy; syyl += b.syy
            val cand = (intSse(cl, syl, syyl) + intSse(c - cl, sy - syl, syy - syyl),
              fi, b.v)
            if (best.forall(Ordering[(BigInt, Int, Long)].lt(cand, _))) best = Some(cand)
          }
        }
        best match {
          case Some((_, fi, v)) =>
            nodes += id -> TreeNodeRow(id, depth, c, sy.toLong,
              intSse(c, sy, syy).toLong, Some(featureCols(fi)), Some(v))
            if (lastLevel) {
              val (l, r) = byFi(fi).partition(_.v <= v)
              val cL = l.map(_.c).sum
              val syL = l.map(b => BigInt(b.sy)).sum
              val syyL = l.map(b => BigInt(b.syy)).sum
              leaf(id * 2, depth + 1, cL, syL, syyL, l.map(_.mn).min)
              leaf(id * 2 + 1, depth + 1, c - cL, sy - syL, syy - syyL, r.map(_.mn).min)
            } else {
              next += id * 2
              next += id * 2 + 1
            }
          case None => // single-valued on every feature: early leaf
            leaf(id, depth, c, sy, syy, f0.map(_.mn).min)
        }
      }
      frontier = next.toSet
      depth += 1
    }
    val model = TreeModel(featureCols, nodes)
    (model, leafMin.map { case (id, m) => m - model.leafUnit(id) }.min)
  }

  /** What a fit checks its contract on, over the TRAIN rows: the row
    * count, the sum, sum of squares and min of the non-null labels,
    * whether any label is null, NaN or fractional, and whether any
    * feature is (only when the fit splits on features); plus the valid
    * split's row count. */
  private final case class Summary(n: Long, sy: Long, syy: Long, mn: Long,
      labelBad: Boolean, featBad: Boolean, nValid: Long) {
    def +(o: Summary): Summary = Summary(n + o.n, Math.addExact(sy, o.sy),
      Math.addExact(syy, o.syy), math.min(mn, o.mn), labelBad || o.labelBad,
      featBad || o.featBad, nValid + o.nValid)
  }

  /** The label as a Long, null where it is null, NaN or fractional —
    * rows a fit's count sees but its label sums do not, so a count
    * mismatch is the contract's label flag. */
  private def labelLong(y: Column): Column = {
    val d = y.cast("double")
    when(!isnan(d) && d === floor(d), y.cast("long"))
  }

  /** One joint-histogram row: the input rows sharing feature vector `x`
    * (null read as NaN: both take a split's right branch, as in the CASE
    * scorers; empty when no tree splits, so the feature check passes)
    * and the split flags, with their row count, non-null label count,
    * label sum, sum of squares and min. */
  private final case class Tup(x: Array[Double], tr: Boolean, va: Boolean,
      c: Long, cy: Long, sy: Long, syy: Long, mn: Long)

  private type Bins = mutable.HashMap[(Long, Int, Long), Bin]

  /** The joint-histogram tuples of one fit, wherever they live: collected
    * on the driver, or persisted per partition of the aggregated frame. */
  private final class Tuples(at: Either[Array[Tup], RDD[Tup]]) {
    /** `f` over every tuple: once over the collected array, or once per
      * partition with the results merged by `treeReduce`. */
    def fold[A: ClassTag](f: Iterator[Tup] => A)(merge: (A, A) => A): A = at match {
      case Left(ts) => f(ts.iterator)
      case Right(ts) => ts.mapPartitions(it => Iterator.single(f(it))).treeReduce(merge)
    }
  }

  /** The fit's statistics, each one kernel over a run of tuples with its
    * merge. A tuple's rows share a node at every level and a prediction
    * `q` in every round, so its shifted-residual stats are exact integer
    * identities of its own — Σ(y−q) = Σy − c·q, Σ(y−q)² = Σy² − 2q·Σy +
    * c·q², min(y−q) = min y − q. The distributed fold ships these
    * functions to the executors, so they are built here, not in
    * `Trainer`. */
  private object Kernel extends Serializable {
    def tup(k: Int): Row => Tup = r =>
      Tup(Array.tabulate(k)(i => if (r.isNullAt(i)) Double.NaN else r.getDouble(i)),
        r.getBoolean(k), r.getBoolean(k + 1), r.getLong(k + 2), r.getLong(k + 3),
        longOr(r, k + 4, 0L), longOr(r, k + 5, 0L), longOr(r, k + 6, Long.MaxValue))

    private val noRows = Summary(0L, 0L, 0L, Long.MaxValue, false, false, 0L)

    def summary(ts: Iterator[Tup]): Summary = ts.map { t =>
      val nValid = if (t.va) t.c else 0L
      if (t.tr) Summary(t.c, t.sy, t.syy, t.mn, t.cy < t.c,
        t.x.exists(v => v.isNaN || v != math.floor(v)), nValid)
      else noRows.copy(nValid = nValid)
    }.foldLeft(noRows)(_ + _)

    /** The train tuples' residual `y - shift(x) - off`, binned: by
      * (node, featureIdx, value) over the frontier nodes of `level`'s
      * partial tree, or all in one root bin when `level` is empty. */
    def bins(shift: BoostedModel, off: Long,
        level: Option[(Set[Long], TreeModel)]): Iterator[Tup] => Bins = ts => {
      val acc: Bins = mutable.HashMap.empty
      ts.filter(_.tr).foreach { t =>
        val keys = level match {
          case None => Seq((1L, 0, 0L))
          case Some((frontier, partial)) =>
            val node = partial.reach(t.x)
            if (frontier(node)) t.x.indices.map(fi => (node, fi, t.x(fi).toLong)) else Nil
        }
        if (keys.nonEmpty) {
          val q = BigInt(shift.predictUnits(t.x)) + off
          val sb = exactLong(BigInt(t.sy) - q * t.c)
          val sbb = exactLong(BigInt(t.syy) - q * t.sy * 2 + q * q * t.c)
          val mb = exactLong(BigInt(t.mn) - q)
          keys.foreach { case (node, fi, v) => add(acc, Bin(node, fi, v, t.c, sb, sbb, mb)) }
        }
      }
      acc
    }

    private def add(acc: Bins, b: Bin): Unit = {
      val key = (b.node, b.fi, b.v)
      acc(key) = acc.get(key).fold(b)(_ + b)
    }

    val mergeBins: (Bins, Bins) => Bins = (a, b) => { b.values.foreach(add(a, _)); a }

    /** Each model's squared residual over the valid tuples' non-null
      * labels: Σ(y−p)² = Σy² − 2p·Σy + cy·p². */
    def validSse(models: Seq[BoostedModel]): Iterator[Tup] => Array[BigInt] = ts => {
      val acc = Array.fill(models.size)(BigInt(0))
      ts.filter(_.va).foreach { t =>
        models.indices.foreach { i =>
          val p = BigInt(models(i).predictUnits(t.x))
          acc(i) += BigInt(t.syy) - p * t.sy * 2 + p * p * t.cy
        }
      }
      acc
    }
  }

  /** The rows of one fit as its joint-histogram [[Tuples]], and the fit
    * logic over them, once: the contract summary, each round's root bin
    * and level bins, and the valid SSEs are each one [[Kernel]] fold. A
    * level may hold at most `featureCols.size x maxAggRows` bins: the
    * collected tuples never reach it (each train tuple adds one bin per
    * feature), the distributed ones are refused past it. */
  private final class FitSource(tuples: Tuples, featureCols: Seq[String],
      maxAggRows: Int) {
    val summary: Summary = tuples.fold(Kernel.summary)(_ + _)

    /** One exact tree fitted to the shifted train residual
      * `y - shift(x) - off`, and the next round's offset. */
    def fitRound(shift: BoostedModel, off: Long, maxDepth: Int): (TreeModel, Long) =
      growTree(featureCols, maxDepth,
        () => tuples.fold(Kernel.bins(shift, off, None))(Kernel.mergeBins).values.head,
        (frontier, partial) => {
          val bins = tuples.fold(Kernel.bins(shift, off, Some((frontier, partial))))(
            Kernel.mergeBins)
          require(bins.size <= featureCols.size.toLong * maxAggRows,
            s"tree level has ${bins.size} (node, feature, value) bins > " +
              s"${featureCols.size} features x maxAggRows=$maxAggRows — " +
              "pre-bucketize continuous features")
          bins.values.toSeq
        })

    /** Each model's integer SSE over the valid split's non-null labels. */
    def validSse(models: Seq[BoostedModel]): Seq[Long] =
      tuples.fold(Kernel.validSse(models))((a, b) => a.zip(b).map { case (x, y) => x + y })
        .toSeq.map(exactLong)
  }

  /** Run `fit` over the rows of `df` where `tr` (train) or `va` (valid)
    * holds, label `y`. One distributed pass aggregates the JOINT
    * histogram — per distinct (features, tr, va): count, non-null label
    * count, label sum, sum of squares, min — and collects at most
    * `maxAggRows + 1` of its rows. Within `maxAggRows` the fit folds the
    * collected tuples on the driver; past it, the tuples persisted on the
    * executors. `keyFeatures = false` (every tree of depth 0) groups by
    * the split flags alone. */
  private def withSource[T](df: DataFrame, featureCols: Seq[String], y: Column,
      tr: Column, va: Column, keyFeatures: Boolean, maxAggRows: Int)(
      fit: FitSource => T): T = {
    val keys = if (keyFeatures) featureCols else Nil
    val hist = df.select((keys.map(c => col(c).cast("double").as(c)) :+
        labelLong(y).as("__y") :+ tr.as("__tr") :+ va.as("__va")): _*)
      .filter(col("__tr") || col("__va"))
      .groupBy((keys :+ "__tr" :+ "__va").map(col): _*)
      .agg(count(lit(1)), count("__y"), sum("__y"), sum(col("__y") * col("__y")),
        min("__y"))
    val rows = hist.limit(maxAggRows + 1).collect()
    val tuples =
      if (rows.length <= maxAggRows) Left(rows.map(Kernel.tup(keys.size)))
      else Right(hist.rdd.map(Kernel.tup(keys.size))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try fit(new FitSource(new Tuples(tuples), featureCols, maxAggRows))
    finally tuples.foreach(_.unpersist())
  }

  private def requireExact(s: Summary): Unit =
    require(!s.labelBad && !s.featBad && s.mn >= 0,
      "fitTree needs integer-valued features and a nonnegative " +
        "integer-valued label (the exact-oracle contract)")

  private def requireValid(who: String, s: Summary, isValidCol: String): Unit =
    require(s.nValid > 0,
      s"$who needs a nonempty valid split: no row has $isValidCol set")

  /** The label-only model: what a single tree's label is shifted by. */
  private def noShift(featureCols: Seq[String]): BoostedModel =
    BoostedModel(featureCols, 0L, 0L, 0L, 0L, Vector.empty)

  /** Fit the exact tree — see the block comment above for semantics
    * and scale shape: one corpus pass (the joint histogram), every
    * level on the driver. `maxDepth` split levels; leaves at depth <=
    * maxDepth. */
  def fitTree(df: DataFrame, featureCols: Seq[String], labelCol: String,
      maxDepth: Int, maxAggRows: Int = 1 << 22): TreeModel = {
    require(featureCols.nonEmpty && maxDepth >= 0,
      s"bad tree spec ($featureCols, depth $maxDepth)")
    withSource(df, featureCols, col(labelCol).cast("double"), lit(true), lit(false),
        maxDepth > 0, maxAggRows) { src =>
      val s = src.summary
      require(s.n > 0, "fitTree over an empty frame")
      requireExact(s)
      src.fitRound(noShift(featureCols), 0L, maxDepth)._1
    }
  }

  /** The EXACT boosted ensemble — gradient boosting with squared loss
    * over [[fitTree]], kept bit-replayable end to end (the graded twin
    * of [[fitGBT]]'s float MLlib fit; designed + cross-checked in
    * tools/design_boost.py, DuckDB CTE chain == pure-python replay,
    * BEFORE this implementation existed). `base` is the corpus integer
    * floor mean; each round g fits the exact tree to the SHIFTED
    * residual `y - F_{g-1}(x) - off_g` (off_g = corpus min residual —
    * the shift keeps fitTree's nonneg-label contract, and split
    * decisions are shift-invariant because integer-floor means shift
    * exactly by integer offsets), contributing `leafUnit + off_g` at
    * learning rate 1. Predictions are integers in the label's own
    * scale. Convergence is to within INTEGER-FLOOR resolution, not to
    * zero: a leaf whose residuals span {0, 1} has floor mean 0 and
    * stalls — the exact contract trades the last sub-unit of train fit
    * for bit-replayability ([[fitGBT]] is the to-zero float leg). */
  final case class BoostedModel(featureCols: Seq[String], base: Long,
      baseN: Long, baseSumY: Long, baseSse: Long,
      rounds: Seq[(TreeModel, Long)]) extends Model {

    def predictUnits(features: Array[Double]): Long =
      rounds.foldLeft(base) { case (p, (t, off)) =>
        p + t.leafUnit(t.reach(features)) + off
      }

    def predict(features: Array[Double]): Double =
      predictUnits(features).toDouble

    /** The whole ensemble as ONE column — base + one nested CASE per
      * round (codegen'd, zero shuffle). Integer (LongType), the
      * label's scale. */
    def predictColumn: Column =
      rounds.foldLeft(lit(base): Column) { case (acc, (t, off)) =>
        acc + t.leafUnitColumn + lit(off)
      }

    /** Gain-based feature importance — the XGBoost `get_score
      * (importance_type='gain')` surface, exactly replayable: per
      * internal node the split's SSE gain is `sse - sse(left) -
      * sse(right)` (all integer node stats from the fit), summed per
      * feature across every round. Gains are shift-invariant (each
      * round's offset cancels in the difference), so the numbers are
      * comparable across rounds. */
    def featureImportance: Map[String, Long] = {
      val acc = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      rounds.foreach { case (t, _) =>
        t.nodes.values.foreach { r =>
          if (!r.isLeaf) {
            val gain = r.sse - t.nodes(r.node * 2).sse -
              t.nodes(r.node * 2 + 1).sse
            acc(r.feature.get) += gain
          }
        }
      }
      acc.toMap
    }

    /** The fit as a frame — the graded/registry surface (ml_boost_fit's
      * oracle shape): round 0 is the base-mean row; rounds 1..R are the
      * per-round tree nodes, `contrib` = leafUnit + round offset. */
    def boostFrame(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      val baseRow = (0L, 1L, 0L, baseN, baseSumY, baseSse,
        null.asInstanceOf[String], null.asInstanceOf[java.lang.Long],
        base, true)
      val treeRows = rounds.zipWithIndex.flatMap { case ((t, off), i) =>
        t.nodes.values.toSeq.sortBy(_.node).map { r =>
          (i + 1L, r.node, r.depth.toLong, r.n, r.sumY, r.sse,
            r.feature.orNull, r.threshold.map(Long.box).orNull,
            t.leafUnit(r.node) + off, r.isLeaf)
        }
      }
      (baseRow +: treeRows).toDF("round", "node", "depth", "n", "sum_y",
        "sse", "feature", "threshold", "contrib", "is_leaf")
    }
  }

  /** Fit the exact boosted ensemble — see [[BoostedModel]]. The label
    * must be nonneg integer-valued (the fitTree contract; asserted).
    * `rounds` trees of `maxDepth` split levels each, all from ONE
    * corpus pass: the joint histogram's per-tuple stats shift exactly
    * by each round's per-tuple prediction, round 1's offset is
    * `min(y) - base` and later rounds' offsets ride the previous tree's
    * leaf mins. Past `maxAggRows` tuples they stay persisted on the
    * executors: one tuple-frame pass for the summary, then one per
    * level of each round, `rounds * maxDepth` in all. */
  def fitBoosted(df: DataFrame, featureCols: Seq[String], labelCol: String,
      rounds: Int, maxDepth: Int, maxAggRows: Int = 1 << 22): BoostedModel =
    withSource(df, featureCols, col(labelCol).cast("long"), lit(true), lit(false),
        maxDepth > 0, maxAggRows) { src =>
      val s = src.summary
      requireBoostable(s)
      requireExact(s)
      boost(src, featureCols, s, rounds, maxDepth)
    }

  private def requireBoostable(s: Summary): Unit = {
    require(s.n > 0, "fitBoosted over an empty frame")
    require(s.mn >= 0,
      "fitBoosted needs a nonnegative integer label (the exact contract)")
  }

  /** The round-0 model: the train split's integer floor mean. */
  private def baseModel(featureCols: Seq[String], s: Summary): BoostedModel =
    BoostedModel(featureCols, s.sy / s.n, s.n, s.sy,
      intSse(s.n, BigInt(s.sy), BigInt(s.syy)).toLong, Vector.empty)

  /** One boosting round on top of `m`, whose next offset is `off`:
    * (the extended model, the round after's offset). The next residual
    * is this round's shifted label minus leafUnit (the offsets cancel),
    * so the fit's per-leaf mins are the next offset. */
  private def boostRound(src: FitSource, m: BoostedModel, off: Long,
      maxDepth: Int): (BoostedModel, Long) = {
    val (t, nextMin) = src.fitRound(m, off, maxDepth)
    (m.copy(rounds = m.rounds :+ ((t, off))), nextMin)
  }

  private def boost(src: FitSource, featureCols: Seq[String], s: Summary,
      rounds: Int, maxDepth: Int): BoostedModel = {
    require(rounds >= 1, s"fitBoosted needs >= 1 round, got $rounds")
    val base = baseModel(featureCols, s)
    // min(y - base) = min(y) - base: round 1's offset needs no pass
    (1 to rounds).foldLeft((base, s.mn - base.base)) { case ((m, off), _) =>
      boostRound(src, m, off, maxDepth)
    }._1
  }

  // ------------------------------------------------------------------
  // Tuner — the reference TrainerManager's hyperparameter-search slice
  // (svoe trainer_manager.py: TunerConfig / param_space / num_samples /
  // metric / mode over randint ranges), made exactly replayable:
  // candidates sample DETERMINISTICALLY from the param space via
  // md5-prefix integers keyed by the sample index (data-independent,
  // so the trial list is shared literal metadata with the oracle), fit
  // on the TRAIN split, score by integer SSE on the VALID split, pick
  // argmin (metric, trial). Designed + cross-checked in
  // tools/design_tuner.py.
  // ------------------------------------------------------------------

  /** md5-prefix integer in [0, 2^32) — the repo's engine-portable
    * knob-derivation hash (the Dedup.Md5Prefix discipline). */
  def md5Int(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
  }

  /** Inclusive integer range — the `randint: {lower, upper}` shape of
    * the reference's param_space. */
  final case class ParamRange(lower: Int, upper: Int) {
    require(upper >= lower, s"empty range [$lower, $upper]")
    def span: Int = upper - lower + 1
  }

  final case class TunerSpec(rounds: ParamRange, maxDepth: ParamRange,
      numSamples: Int, metric: String = "sse_valid", mode: String = "min")

  final case class Trial(trial: Int, rounds: Int, maxDepth: Int,
      nValid: Long, sseValid: Long, isBest: Boolean)

  /** The deterministic sample list (trial, rounds, maxDepth) — shared
    * verbatim by [[tune]] and the oracle generator. */
  def sampleCandidates(spec: TunerSpec): Seq[(Int, Int, Int)] =
    (0 until spec.numSamples).map { i =>
      (i,
        spec.rounds.lower + (md5Int(s"rounds$i") % spec.rounds.span).toInt,
        spec.maxDepth.lower + (md5Int(s"depth$i") % spec.maxDepth.span).toInt)
    }

  /** Run the tuner: fit one exact ensemble per sampled candidate on
    * the rows where `isTrainCol`, score every candidate's integer valid
    * SSE over the rows where `isValidCol`, elect argmin (sse, trial).
    * One corpus pass serves every candidate: the joint histogram also
    * groups by the two split flags, and each valid SSE is computed from
    * the valid-split tuples. Past `maxAggRows` tuples they stay persisted
    * on the executors: one tuple-frame pass for the summary, one per
    * level of each distinct depth's fit, and one that scores every
    * candidate. The valid split must
    * be nonempty. Returns (best model, the full trial frame — what the
    * reference's MLflow callback logs per trial). Only the exact
    * surface is supported: metric 'sse_valid', mode 'min' (use fitGBT +
    * your own loop for float metrics). */
  def tune(df: DataFrame, featureCols: Seq[String], labelCol: String,
      isTrainCol: String, isValidCol: String, spec: TunerSpec,
      maxAggRows: Int = 1 << 22): (BoostedModel, Seq[Trial]) = {
    require(spec.metric == "sse_valid" && spec.mode == "min",
      s"exact tuner supports (sse_valid, min) only, got " +
        s"(${spec.metric}, ${spec.mode})")
    val cands = sampleCandidates(spec)
    withSource(df, featureCols, col(labelCol).cast("long"),
        coalesce(col(isTrainCol), lit(false)), coalesce(col(isValidCol), lit(false)),
        cands.exists(_._3 > 0), maxAggRows) { src =>
      val s = src.summary
      requireBoostable(s)
      requireExact(s)
      requireValid("tune", s, isValidCol)
      // SHARED-PREFIX FITS (r16): the exact fit is deterministic and
      // prefix-stable — round g's tree depends only on rounds < g and
      // maxDepth, never on the rounds knob — so candidates sharing a
      // maxDepth share the whole tree sequence. One fit per DISTINCT
      // depth at that depth's max rounds, each candidate a rounds-prefix
      // slice: identical models (same integer arithmetic, same argmins).
      val fullByDepth = cands.groupBy(_._3).map { case (d, cs) =>
        d -> boost(src, featureCols, s, cs.map(_._2).max, d)
      }
      val models = cands.map { case (i, r, d) =>
        val full = fullByDepth(d)
        (i, r, d, full.copy(rounds = full.rounds.take(r)))
      }
      val trials = models.zip(src.validSse(models.map(_._4))).map {
        case ((i, r, d, _), sse) => Trial(i, r, d, s.nValid, sse, isBest = false)
      }
      val best = trials.minBy(t => (t.sseValid, t.trial)).trial
      (models(best)._4, trials.map(t => t.copy(isBest = t.trial == best)))
    }
  }

  /** One point of an early-stopping / holdout metric series. */
  final case class RoundMetric(round: Int, nValid: Long, sseValid: Long,
      isBest: Boolean)

  /** The XGBoost `early_stopping_rounds` rule as a pure function over
    * a metric series (round 0 = the base model): returns (stop, best)
    * where `best` is the FIRST round achieving the running min and
    * `stop` the first round with `patience` rounds since `best` (or
    * the last round when the rule never fires). */
  def earlyStopRound(series: Seq[Long], patience: Int): (Int, Int) = {
    require(patience >= 1, s"patience must be >= 1, got $patience")
    var best = 0
    var r = 0
    while (r < series.size) {
      if (series(r) < series(best)) best = r
      if (r - best >= patience) return (r, best)
      r += 1
    }
    (series.size - 1, best)
  }

  /** [[fitBoosted]] with XGBoost's early-stopping semantics: fit
    * round by round on the rows where `isTrainCol`, compute the
    * integer valid SSE after each round (rows where `isValidCol`,
    * required nonempty), STOP once `patience` consecutive rounds fail
    * to improve the running best, and return the BEST round's prefix
    * ensemble plus the metric series up to the stop (what the
    * reference's per-round eval callback logs). The decision is
    * sequential, but the data is not: one corpus pass (the joint
    * histogram, split flags included) serves every round and every
    * valid SSE. Past `maxAggRows` tuples they stay persisted on the
    * executors: one tuple-frame pass for the summary and one per valid
    * step, and each round one per level. The series, the stop, and
    * the kept prefix are all exactly replayable
    * (tools/design_earlystop.py). */
  def fitBoostedEarlyStop(df: DataFrame, featureCols: Seq[String],
      labelCol: String, isTrainCol: String, isValidCol: String,
      maxRounds: Int, maxDepth: Int, patience: Int = 1,
      maxAggRows: Int = 1 << 22): (BoostedModel, Seq[RoundMetric]) = {
    require(maxRounds >= 1, s"need >= 1 round, got $maxRounds")
    withSource(df, featureCols, col(labelCol).cast("long"),
        coalesce(col(isTrainCol), lit(false)), coalesce(col(isValidCol), lit(false)),
        maxDepth > 0, maxAggRows) { src =>
      val s = src.summary
      require(s.n > 0, "fitBoostedEarlyStop over an empty train split")
      require(s.mn >= 0, "fitBoostedEarlyStop needs a nonnegative integer label")
      requireValid("fitBoostedEarlyStop", s, isValidCol)
      requireExact(s)
      var model = baseModel(featureCols, s)
      var series = src.validSse(Seq(model)).toVector
      var stopped = false
      var r = 1
      // min(y - base) over TRAIN = min(y) - base
      var off = s.mn - model.base
      while (r <= maxRounds && !stopped) {
        val (next, nextOff) = boostRound(src, model, off, maxDepth)
        model = next
        off = nextOff
        series ++= src.validSse(Seq(model))
        val (_, best) = earlyStopRound(series, patience)
        if (series.size - 1 - best >= patience) stopped = true
        r += 1
      }
      val (stop, best) = earlyStopRound(series, patience)
      val metrics = (0 to stop).map(k =>
        RoundMetric(k, s.nValid, series(k), isBest = k == best))
      (model.copy(rounds = model.rounds.take(best)), metrics)
    }
  }

  /** The full-strength nonlinear leg: MLlib gradient-boosted trees
    * (squared loss) over the same (featureCols, label) surface,
    * wrapped as a [[Model]] — what the reference's XGBoostTrainer
    * slot runs (trainer_manager.py:128-141); [[fitTree]] is its
    * exactly-replayable graded twin. Float fit — spec-pinned
    * (train-MSE monotone in iterations, exact on a separable
    * fixture), not oracle-graded. */
  def fitGBT(df: DataFrame, featureCols: Seq[String], labelCol: String,
      maxIter: Int, maxDepth: Int = 3, seed: Long = 41L,
      stepSize: Double = 0.1): GBTModelWrapper = {
    import org.apache.spark.ml.feature.VectorAssembler
    import org.apache.spark.ml.regression.GBTRegressor
    val assembler = new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("__features")
    val prepared = assembler.transform(
      df.select((featureCols.map(c => col(c).cast("double").as(c)) :+
        col(labelCol).cast("double").as("__label")): _*))
    val gbt = new GBTRegressor().setFeaturesCol("__features")
      .setLabelCol("__label").setMaxIter(maxIter).setMaxDepth(maxDepth)
      .setSeed(seed).setStepSize(stepSize)
    GBTModelWrapper(gbt.fit(prepared), featureCols)
  }

  final case class GBTModelWrapper(
      model: org.apache.spark.ml.regression.GBTRegressionModel,
      featureCols: Seq[String]) extends Model {
    def predict(features: Array[Double]): Double =
      model.predict(org.apache.spark.ml.linalg.Vectors.dense(features))
  }

  /** Adapt a model to the backtest loop (reference inference loop):
    * target position = +`unit` when the model's score exceeds the
    * current price (expected up-move), else -`unit`. Feature values are
    * read by column index in `featureCols` order; a row with a null or
    * NaN feature (or a NaN prediction) targets position 0.0 — flat, a
    * deterministic no-signal stance (holding would need a stateful
    * strategy; `Backtester.Strategy` is a pure row function). */
  def modelStrategy(model: Model, schema: Seq[String],
      featureCols: Seq[String], priceCol: String,
      unit: Double = 1.0): Backtester.Strategy = {
    val fIdx = featureCols.map(schema.indexOf(_)).toArray
    val pIdx = schema.indexOf(priceCol)
    require(fIdx.forall(_ >= 0) && pIdx >= 0,
      s"columns $featureCols / $priceCol not all present in $schema")
    (r: Row) => {
      val x = new Array[Double](fIdx.length)
      var ok = true
      var i = 0
      while (i < fIdx.length) {
        if (r.isNullAt(fIdx(i))) ok = false
        else { x(i) = r.getDouble(fIdx(i)); if (x(i).isNaN) ok = false }
        i += 1
      }
      if (!ok) 0.0
      else {
        val pred = model.predict(x)
        if (pred.isNaN) 0.0
        else if (pred > r.getDouble(pIdx)) unit
        else -unit
      }
    }
  }

  /** Feature-matrix export, LibSVM text (XGBoost native input):
    * `label idx:value ...` with 1-based indices, one shuffle-free pass
    * (file count = input partitions, rows in source-partition order —
    * sort the input first if per-file ordering matters). Null/NaN rows
    * are dropped. */
  def exportLibsvm(df: DataFrame, featureCols: Seq[String], labelCol: String,
      path: String): Unit = {
    val line = concat_ws(" ",
      (col(labelCol).cast("double").cast("string") +:
        featureCols.zipWithIndex.map { case (c, i) =>
          concat_ws(":", lit(i + 1), col(c).cast("double").cast("string"))
        }): _*)
    val notNull = (featureCols :+ labelCol)
      .map(c => col(c).isNotNull && !isnan(col(c).cast("double")))
      .reduce(_ && _)
    df.filter(notNull).select(line.as("value")).write.mode("overwrite").text(path)
  }

  /** Feature-matrix export, parquet: (label, features array<double>) —
    * full-fidelity handoff for downstream learners. */
  def exportMatrix(df: DataFrame, featureCols: Seq[String], labelCol: String,
      path: String): Unit =
    df.select(col(labelCol).cast("double").as("label"),
        array(featureCols.map(c => col(c).cast("double")): _*).as("features"))
      .write.mode("overwrite").parquet(path)
}
