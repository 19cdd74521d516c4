package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Point-in-time (backward as-of) joins, the reference's one genuinely
  * custom operator (svoe `blocks/blocks.py:212-219` `merge_asof_multi`,
  * task wiring `batch/task_graph/tasks.py:222-264`).
  *
  * Spark-first formulation: instead of a per-block pandas `merge_asof`
  * orchestrated by a hand-rolled task DAG, we union the tagged inputs and
  * run `last(_, ignoreNulls = true)` over an ordered window per key —
  * ONE shuffle on `by` regardless of how many frames are joined, then a
  * single in-partition sort. The reference's prev-block seeding
  * (`builder.py:270-291`) is unnecessary: Spark windows span the whole
  * key partition, not a file.
  *
  * Backward-inclusive tie semantics match pandas
  * `merge_asof(direction='backward')`: a right row at exactly `left.ts`
  * is visible (right rows sort before left rows at equal ts).
  *
  * Scale notes (100 TB): with non-empty `by` keys this parallelizes per
  * key like any hash aggregation; AQE handles skewed keys. With empty
  * `by` it degrades to a single-partition window — for the global case
  * prefer a coarse bucket pre-partition (range partition on ts + carry
  * of each partition's last value), which `asofJoinRangePartitioned`
  * below implements without a global sort on a single node.
  */
object AsofJoin {

  private val TS = "__asof_ts"
  private val SIDE = "__asof_side"

  /** Backward as-of join. For every left row, attaches the value columns
    * of the latest right row with `right.ts <= left.ts` and equal `by`
    * keys. Right value columns are `right.columns - tsCol - by`, emitted
    * with `rightPrefix`. `rightTieBreak` (a right column name) makes the
    * winner among equal-ts right rows deterministic (largest wins).
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      tsCol: String,
      by: Seq[String] = Nil,
      rightPrefix: String = "",
      rightTieBreak: Option[String] = None): DataFrame = {
    pointInTimeJoin(left, Seq((rightPrefix, right)), tsCol, by, rightTieBreak)
  }

  /** Forward as-of join (pandas `merge_asof(direction='forward')`):
    * for every left row, the value columns of the EARLIEST right row
    * with `right.ts >= left.ts` and equal `by` keys. Implemented as the
    * backward join on negated time — same single-shuffle union+window
    * plan, inclusive at equal ts, largest `rightTieBreak` wins among
    * equal-ts right rows (same rule as backward). */
  def asofJoinForward(
      left: DataFrame,
      right: DataFrame,
      tsCol: String,
      by: Seq[String] = Nil,
      rightPrefix: String = "",
      rightTieBreak: Option[String] = None): DataFrame = {
    val nl = left.withColumn(tsCol, -col(tsCol))
    val nr = right.withColumn(tsCol, -col(tsCol))
    pointInTimeJoin(nl, Seq((rightPrefix, nr)), tsCol, by, rightTieBreak)
      .withColumn(tsCol, -col(tsCol))
  }

  /** Nearest as-of join (pandas `merge_asof(direction='nearest')`):
    * for every left row, the value columns of the right row closest in
    * absolute time distance, equal distances resolved BACKWARD (the
    * earlier row wins — stated explicitly because pandas leaves it
    * underspecified). Composed from one backward and one forward pass
    * (two window shuffles on `by`), with the matched right ts carried
    * through to arbitrate distance. */
  def asofJoinNearest(
      left: DataFrame,
      right: DataFrame,
      tsCol: String,
      by: Seq[String] = Nil,
      rightPrefix: String = "",
      rightTieBreak: Option[String] = None): DataFrame = {
    val rts = "__asof_rts"
    val valCols = right.columns.filterNot(c => c == tsCol || by.contains(c)).toSeq
    val p = if (rightPrefix.isEmpty) "" else s"${rightPrefix}_"
    val overlap = valCols.map(p + _).toSet.intersect(left.columns.toSet)
    require(overlap.isEmpty,
      s"nearest asof join would overwrite left columns $overlap — use a prefix")
    val r2 = right.withColumn(rts, col(tsCol))
    val bwd = pointInTimeJoin(left, Seq(("__b", r2)), tsCol, by, rightTieBreak)
    val both = asofJoinForward(bwd, r2, tsCol, by, "__f", rightTieBreak)
    val db = abs(col(s"__b_$rts") - col(tsCol))
    val dfw = abs(col(s"__f_$rts") - col(tsCol))
    val useB = col(s"__f_$rts").isNull ||
      (col(s"__b_$rts").isNotNull && db <= dfw)
    valCols.foldLeft(both) { (d, c) =>
        d.withColumn(s"$p$c", when(useB, col(s"__b_$c")).otherwise(col(s"__f_$c")))
      }
      .drop(valCols.flatMap(c => Seq(s"__b_$c", s"__f_$c")) ++
        Seq(s"__b_$rts", s"__f_$rts"): _*)
  }

  /** N-way point-in-time join: aligns every feature frame on the label
    * frame's timestamps (label = `left`), one window pass, one shuffle.
    * Each feature's value columns are prefixed with its name (reference
    * `df_utils.py:172-180` column prefixing, P5).
    */
  def pointInTimeJoin(
      label: DataFrame,
      features: Seq[(String, DataFrame)],
      tsCol: String,
      by: Seq[String] = Nil,
      rightTieBreak: Option[String] = None): DataFrame = {
    val labelCols = label.columns.toSeq
    // the tie-break column IS emitted as a value column (provenance of
    // the matched row, like lookaheadShift's label_<tie>); callers that
    // consider it plumbing drop it after the join (PitJoinDef does)
    def valColsOf(fdf: DataFrame): Array[String] =
      fdf.columns.filterNot(c => c == tsCol || by.contains(c))
    // the output schema must have unique column names (label cols +
    // each feature's prefixed value cols) — a silent duplicate would
    // poison every downstream reference
    val outNames = labelCols ++ features.flatMap { case (name, fdf) =>
      val p = if (name.isEmpty) "" else s"${name}_"
      valColsOf(fdf).map(p + _)
    }
    val dups = outNames.groupBy(identity).collect { case (c, xs) if xs.size > 1 => c }
    require(dups.isEmpty,
      s"asof join output would duplicate columns $dups — " +
        "use distinct feature names/prefixes or rename the inputs")
    val tie = "__asof_tie"

    val lTag = label.select(
      (by.map(col) :+ col(tsCol).as(TS) :+ lit(Long.MaxValue).as(tie) :+
        struct(labelCols.map(col): _*).as("__lrow") :+ lit(1).as(SIDE)): _*)

    val fTags = features.zipWithIndex.map { case ((_, df), i) =>
      val valCols = valColsOf(df)
      // The tie-break applies per frame where the column exists; a
      // frame without it must be unique per (by, ts) — e.g. already
      // aggregated/collapsed — so equal-ts ties cannot arise there.
      val tieCol = rightTieBreak match {
        case Some(t) if df.columns.contains(t) => col(t).cast("long")
        case _                                 => lit(0L)
      }
      df.select(
        (by.map(col) :+ col(tsCol).as(TS) :+ tieCol.as(tie) :+
          struct(valCols.toIndexedSeq.map(col): _*).as(s"__f$i") :+ lit(0).as(SIDE)): _*)
    }

    val unioned = fTags.foldLeft(lTag)((a, b) =>
      a.unionByName(b, allowMissingColumns = true))

    // Right rows (side=0) sort before the label row at equal ts =>
    // backward-inclusive; tie column orders equal-ts right rows.
    val w = Window
      .partitionBy(by.map(col): _*)
      .orderBy(col(TS).asc, col(SIDE).asc, col(tie).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val filled = features.zipWithIndex.foldLeft(unioned) { case (df, (_, i)) =>
      df.withColumn(s"__v$i", last(col(s"__f$i"), ignoreNulls = true).over(w))
    }

    // `by` straight from the window's partition key, so the output keeps
    // its hash partitioning on `by`
    val outCols =
      labelCols.map(c => if (by.contains(c)) col(c) else col("__lrow").getField(c).as(c)) ++
        features.zipWithIndex.flatMap { case ((name, fdf), i) =>
          val p = if (name.isEmpty) "" else s"${name}_"
          valColsOf(fdf).map(c => col(s"__v$i").getField(c).as(s"$p$c"))
        }

    filled.filter(col(SIDE) === 1).select(outCols: _*)
  }

  /** Keyless (global) backward as-of join at scale: instead of one
    * global window partition, range-partition the tagged union on ts,
    * fill within each partition in one `mapPartitions` pass, and seed
    * each partition with a driver-side prefix-scan "carry" (the latest
    * right row of any earlier partition — at most `numPartitions` rows
    * ever reach the driver). Two jobs over a persisted exchange, O(n)
    * work, no single-node sort. Results are identical to
    * `asofJoin(..., by = Nil)` for ANY partition count.
    * `numPartitions <= 0` auto-sizes the range exchange from the
    * inputs' optimizer size estimate (~64 MB/slice, floored at the
    * cluster parallelism, capped at 20k) — the default knob for
    * callers who don't know their data volume; a constant count
    * degrades to a linear scan of the densest decade (SCALE.md
    * sf100eq).
    */
  def asofJoinRangePartitioned(
      left: DataFrame,
      right: DataFrame,
      tsCol: String,
      rightPrefix: String = "",
      numPartitions: Int = 32,
      rightTieBreak: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val spark = left.sparkSession
    val leftCols = left.columns.toSeq
    val rightVals = right.columns.filterNot(_ == tsCol).toSeq
    if (rightPrefix.isEmpty) {
      val overlap = rightVals.toSet.intersect(leftCols.toSet)
      require(overlap.isEmpty,
        s"global asof join without a prefix would duplicate columns $overlap")
    }
    val tie = "__asof_tie"
    val tieCol = rightTieBreak.map(col(_).cast("long")).getOrElse(lit(0L))

    // numPartitions <= 0 => size the range exchange from the inputs'
    // optimizer size estimate (free — no action): ~64 MB per range
    // slice, floored at the cluster's parallelism. The sf100eq probe
    // showed why a CONSTANT count is wrong: at 1000x density a fixed
    // 32-way range partition degrades to a linear scan of 10x-denser
    // slices (13.2s where scaled partitions hold ~1-2x) — every
    // degree-of-parallelism knob must scale with the data (SCALE.md,
    // third-decade rule).
    val parts =
      if (numPartitions > 0) numPartitions
      else {
        val bytes = left.queryExecution.optimizedPlan.stats.sizeInBytes +
          right.queryExecution.optimizedPlan.stats.sizeInBytes
        val target = BigInt(64L << 20)
        val want = (bytes / target).min(BigInt(20000)).toInt + 1
        math.max(spark.sparkContext.defaultParallelism, want)
      }

    val lTag = left.select(col(tsCol).as(TS), lit(Long.MaxValue).as(tie),
      struct(leftCols.map(col): _*).as("__lrow"), lit(1).as(SIDE))
    val rTag = right.select(col(tsCol).as(TS), tieCol.as(tie),
      struct(rightVals.map(col): _*).as("__f0"), lit(0).as(SIDE))
    val u = lTag.unionByName(rTag, allowMissingColumns = true)
      .repartitionByRange(parts, col(TS), col(SIDE), col(tie))
      .sortWithinPartitions(col(TS).asc, col(SIDE).asc, col(tie).asc)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val schema = u.schema
    val tsI = schema.fieldIndex(TS)
    val sideI = schema.fieldIndex(SIDE)
    val lrowI = schema.fieldIndex("__lrow")
    val f0I = schema.fieldIndex("__f0")

    // job 1: last right struct per partition -> prefix carry per pid.
    val lasts = u.rdd.mapPartitionsWithIndex { (pid, it) =>
      var last: Row = null
      it.foreach(r => if (r.getInt(sideI) == 0 && !r.isNullAt(f0I))
        last = r.getStruct(f0I))
      Iterator.single(pid -> last)
    }.collect().sortBy(_._1)
    val carry = new Array[Row](lasts.length + 1)
    lasts.foreach { case (pid, l) =>
      carry(pid + 1) = if (l != null) l else carry(pid)
      if (carry(pid + 1) == null) carry(pid + 1) = carry(pid)
    }
    val carryB = spark.sparkContext.broadcast(carry)

    // job 2: in-partition fill seeded with the carry.
    val rightStruct = schema(f0I).dataType.asInstanceOf[StructType]
    val p = if (rightPrefix.isEmpty) "" else s"${rightPrefix}_"
    val outSchema = StructType(
      left.schema.fields ++ rightStruct.fields.map(f =>
        StructField(s"$p${f.name}", f.dataType, nullable = true)))
    val nRight = rightStruct.fields.length
    val filled = u.rdd.mapPartitionsWithIndex { (pid, it) =>
      var last: Row = carryB.value(pid)
      it.flatMap { r =>
        if (r.getInt(sideI) == 0) {
          if (!r.isNullAt(f0I)) last = r.getStruct(f0I)
          None
        } else {
          val l = r.getStruct(lrowI)
          val vals = new Array[Any](l.length + nRight)
          var i = 0
          while (i < l.length) { vals(i) = l.get(i); i += 1 }
          var j = 0
          while (j < nRight) {
            vals(l.length + j) = if (last == null) null else last.get(j)
            j += 1
          }
          Some(Row.fromSeq(vals.toIndexedSeq))
        }
      }
    }
    spark.createDataFrame(filled, outSchema)
  }

  /** Skew-salted keyed backward as-of join: identical semantics to
    * `asofJoin(left, right, tsCol, by, ...)`, but the fill window is
    * partitioned on `(by, ts div bucketUs)` instead of `by` alone — a
    * pathologically hot key (one instrument = 90% of rows) splits into
    * one partition per time bucket instead of serializing through a
    * single window partition. The boundary carry (a left row early in a
    * bucket whose match lives in an earlier bucket) is restored by a
    * second, compact frame: the last right struct of every (key, bucket)
    * group, prefix-scanned per key over bucket order — one row per
    * (key, bucket), shuffled on the same `(by, bucket)` the fill window
    * already hash-partitioned on. Same carry discipline as
    * `asofJoinRangePartitioned`, but fully declarative: no RDD drop-down,
    * no driver-side collect, so the carry path scales with the number of
    * (key, bucket) groups, not rows.
    *
    * Reference semantics: per-instrument `merge_asof`
    * (svoe `blocks/blocks.py:212-219`), which never faces the skew
    * because pandas is single-node; this is the distributed mitigation
    * SCALE.md names for it.
    *
    * `tsCol` must be a non-negative integer timestamp (epoch micros);
    * `bucketUs` picks the salt granularity — smaller buckets = more
    * parallelism for the hot key, more carry rows.
    */
  def asofJoinSalted(
      left: DataFrame,
      right: DataFrame,
      tsCol: String,
      by: Seq[String],
      bucketUs: Long,
      rightPrefix: String = "",
      rightTieBreak: Option[String] = None): DataFrame = {
    require(by.nonEmpty,
      "salted asof join is for hot KEYS; keyless scale is asofJoinRangePartitioned")
    require(bucketUs > 0, s"bucketUs must be positive, got $bucketUs")
    val leftCols = left.columns.toSeq
    val valCols = right.columns.filterNot(c => c == tsCol || by.contains(c)).toSeq
    val p = if (rightPrefix.isEmpty) "" else s"${rightPrefix}_"
    val overlap = valCols.map(p + _).toSet.intersect(leftCols.toSet)
    require(overlap.isEmpty,
      s"salted asof join would overwrite left columns $overlap — use a prefix")
    val tie = "__asof_tie"
    val bkt = "__asof_bkt"
    val tieCol = rightTieBreak match {
      case Some(t) if right.columns.contains(t) => col(t).cast("long")
      case _                                    => lit(0L)
    }

    val lTag = left.select(
      (by.map(col) :+ col(tsCol).as(TS) :+ lit(Long.MaxValue).as(tie) :+
        struct(leftCols.map(col): _*).as("__lrow") :+ lit(1).as(SIDE)): _*)
    val rTag = right.select(
      (by.map(col) :+ col(tsCol).as(TS) :+ tieCol.as(tie) :+
        struct(valCols.toIndexedSeq.map(col): _*).as("__f0") :+ lit(0).as(SIDE)): _*)
    val u = lTag.unionByName(rTag, allowMissingColumns = true)
      .withColumn(bkt, expr(s"`$TS` div $bucketUs"))

    // THE salted exchange: hashpartitioning(by..., bucket) — the hot
    // key's rows spread over as many partitions as it spans buckets.
    val wLocal = Window
      .partitionBy((by.map(col) :+ col(bkt)): _*)
      .orderBy(col(TS).asc, col(SIDE).asc, col(tie).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filledLocal =
      u.withColumn("__v0", last(col("__f0"), ignoreNulls = true).over(wLocal))

    // Boundary carry: for every (key, bucket) seen on EITHER side, the
    // latest right struct of any strictly-earlier bucket of that key.
    // max_by's ordering key is null on left rows, so they never win;
    // a bucket with no right rows carries null and the ignoreNulls
    // prefix scan skips over it.
    val lastPerBucket = u
      .groupBy((by.map(col) :+ col(bkt)): _*)
      .agg(max_by(col("__f0"),
        when(col(SIDE) === 0, struct(col(TS), col(tie)))).as("__bLast"))
    val wCarry = Window
      .partitionBy(by.map(col): _*)
      .orderBy(col(bkt).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val carryF = lastPerBucket
      .withColumn("__carry", last(col("__bLast"), ignoreNulls = true).over(wCarry))
      .select((by.map(col) :+ col(bkt) :+ col("__carry")): _*)

    val joined = filledLocal.join(carryF, by :+ bkt, "left")
    val v = coalesce(col("__v0"), col("__carry"))
    val outCols =
      leftCols.map(c => col("__lrow").getField(c).as(c)) ++
        valCols.map(c => v.getField(c).as(s"$p$c"))
    joined.filter(col(SIDE) === 1).select(outCols: _*)
  }

  /** Lookahead label shift (svoe `blocks.py:182-202` `lookahead_shift`):
    * for each row, the value columns at `ts + deltaUs` (latest row with
    * ts' <= ts + delta, i.e. backward as-of at the shifted probe), with
    * the trailing `delta` of each key's range dropped (no complete future
    * exists there). `tsCol` must be epoch-micros-scaled Long (any fixed
    * unit works as long as deltaUs matches). It is [[pointInTimeJoin]]
    * with `df` at the probe as the label and `df` as the one feature,
    * so it shares that join's tie rule and duplicate-column check.
    */
  def lookaheadShift(
      df: DataFrame,
      tsCol: String,
      deltaUs: Long,
      by: Seq[String] = Nil,
      labelPrefix: String = "label",
      tieBreak: Option[String] = None): DataFrame = {
    val probe = "__asof_probe"
    pointInTimeJoin(df.withColumn(probe, col(tsCol) + lit(deltaUs)),
        Seq((labelPrefix, df.withColumnRenamed(tsCol, probe))), probe, by, tieBreak)
      .withColumn("__maxts", max(col(tsCol)).over(Window.partitionBy(by.map(col): _*)))
      .filter(col(tsCol) <= col("__maxts") - lit(deltaUs))
      .drop("__maxts", probe)
  }
}
