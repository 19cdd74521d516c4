package graft.operators

import scala.collection.IndexedSeq
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.functions.{col, expr, lit, pmod}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{StructField, StructType}

/** A stateful per-key feature, written once (svoe's Kappa promise,
  * `docs/featurizer-overview.md:9-10`: the same per-event code runs
  * offline and online). A fold is an initial state, a total order on
  * one key's rows, one step over a RUN (the rows sharing a run key:
  * RANGE-frame peers, one L2 timestamp, one sampling bucket) that
  * emits output rows, and a bit-exact codec of its state to a
  * primitive `Array[Long]` (doubles travel as raw bits).
  *
  * Two runners execute every fold: [[KeyedFold.runBatch]] (one
  * shuffle on the key, one in-partition sort by (key, order), one
  * partition walk) and [[KeyedFold.runStream]] (keyed state in
  * `flatMapGroupsWithState`, each trigger's rows sorted by the same
  * order). Only the runners sort runs, reset or encode state, so batch
  * and stream agree by construction wherever the stream's triggers
  * split a key's rows at run boundaries. */
abstract class KeyedFold[I, O] extends Serializable {
  /** The per-key state; [[step]] mutates it in place. */
  type S
  /** A key's rows sort ascending by these fields, left to right. */
  def order: Seq[KeyedFold.Field[I]]
  /** Rows of one key with equal run key form one run. Non-decreasing
    * along [[order]]; by default its first field. */
  def runKey(i: I): Long = order.head.key(i)
  def init(): S
  /** Consume one run (rows in [[order]]), emitting through `emit`. */
  def step(s: S, run: IndexedSeq[I], emit: O => Unit): Unit
  def encode(s: S): Array[Long]
  /** Inverse of [[encode]] over `a` from index `from` on. */
  def decode(a: Array[Long], from: Int): S
}

object KeyedFold {

  /** One order field: the column the batch runner sorts by, and the
    * same field read from a row as a Long that sorts alike. */
  sealed abstract class Field[I] extends Serializable {
    def name: String
    def key(i: I): Long
  }
  final case class LongField[I](name: String, get: I => Long) extends Field[I] {
    def key(i: I): Long = get(i)
  }
  /** A double field; its key sorts like Spark's ascending double order
    * (NaN last), except that it puts -0.0 before 0.0. */
  final case class DoubleField[I](name: String, get: I => Double) extends Field[I] {
    def key(i: I): Long = {
      val b = java.lang.Double.doubleToLongBits(get(i))
      if (b < 0) b ^ Long.MaxValue else b
    }
  }

  /** A numeric column of `df` as an order field (Long, Int, ...). */
  def rowLong(df: DataFrame, name: String): LongField[Row] = {
    val i = df.schema.fieldIndex(name)
    LongField(name, r => r.getAs[Number](i).longValue)
  }
  def rowDouble(df: DataFrame, name: String): DoubleField[Row] = {
    val i = df.schema.fieldIndex(name)
    DoubleField(name, r => r.getDouble(i))
  }

  /** `r` with `xs` appended: the output row of a frame fold. */
  def plus(r: Row, xs: Any*): Row = Row.fromSeq(r.toSeq ++ xs)

  /** The batch runner: one `repartition(by)`, `sortWithinPartitions(by,
    * order)`, then one partition walk that resets the state at each new
    * key and feeds the fold run by run. `assumeSorted = true` is the
    * ORDER-METADATA CONTRACT: the caller guarantees every key's rows
    * live wholly inside one partition, sorted by (by, order) — e.g. a
    * per-key merge-read of ts-sorted catalog blocks — and the exchange
    * and the sort are elided; the walk rides the layout. */
  def runBatch[I, O: Encoder](ds: Dataset[I], by: Seq[String], key: I => Any,
      fold: KeyedFold[I, O], assumeSorted: Boolean = false): Dataset[O] = {
    val sorted = if (assumeSorted) ds
      else ds.repartition(by.map(col): _*)
        .sortWithinPartitions(by.map(col) ++ fold.order.map(f => col(f.name).asc): _*)
    sorted.mapPartitions { rows =>
      var started = false
      var cur: Any = null
      var s: fold.S = null.asInstanceOf[fold.S]
      runs(rows.buffered, (a: I, b: I) => fold.runKey(a) == fold.runKey(b) &&
          key(a) == key(b)).flatMap { run =>
        val k = key(run(0))
        if (!started || k != cur) { started = true; cur = k; s = fold.init() }
        val out = ArrayBuffer.empty[O]
        fold.step(s, run, out += _)
        out
      }
    }
  }

  /** [[runBatch]] over a DataFrame whose output rows are the input row
    * plus `added` columns. `chunk = Some((okeyCol, rangeUnits,
    * chunkUnits))` is the TIME-CHUNKED harness, parallelism for
    * LOW-CARDINALITY keys: a plain per-key fold puts each key's whole
    * timeline in one partition — with 5 event types that is 5 of N
    * cores and one n*log(n) sort per key (the sf100eq probe's
    * 13.9x/decade row, SCALE.md). The time axis splits into
    * `chunkUnits` slices, and each (chunk, key) group ALSO reads the
    * preceding `rangeUnits` of rows as non-emitting SEED rows: every
    * emitted row still sees its full lookback, so the output is
    * bit-identical to the unchunked fold, while parallelism becomes
    * keys x chunks and each sort covers one slice. Read amplification
    * is bounded by rangeUnits/chunkUnits (2x at chunkUnits ==
    * rangeUnits). Requires okey >= 0 (epoch-derived keys are). */
  def runFrame(df: DataFrame, by: Seq[String], added: Seq[StructField],
      fold: KeyedFold[Row, Row], assumeSorted: Boolean = false,
      chunk: Option[(String, Long, Long)] = None): DataFrame = chunk match {
    case None =>
      val idx = by.map(df.schema.fieldIndex)
      runBatch(df, by, (r: Row) => idx.map(r.get), fold, assumeSorted)(
        Encoders.row(StructType(df.schema.fields ++ added))).toDF()
    case Some((okeyCol, rangeUnits, chunkUnits)) =>
      require(!assumeSorted,
        "chunking re-partitions; it cannot honor an assumeSorted layout")
      require(chunkUnits >= rangeUnits,
        s"chunk ($chunkUnits) must cover the window lookback ($rangeUnits)")
      val chunkOf = expr(s"$okeyCol div $chunkUnits") // exact integral div
      val own = df.withColumn("__chunk", chunkOf).withColumn("__emit", lit(true))
      val seeds = df
        .filter(pmod(col(okeyCol), lit(chunkUnits)) >= lit(chunkUnits - rangeUnits))
        .withColumn("__chunk", chunkOf + lit(1L))
        .withColumn("__emit", lit(false))
      runFrame(own.unionByName(seeds), "__chunk" +: by, added, fold)
        .filter(col("__emit")).drop("__chunk", "__emit")
  }

  /** The stream runner: the fold's state lives in
    * `flatMapGroupsWithState` (checkpointable), each trigger's rows of a
    * key are sorted by the fold's order and fed run by run. The state
    * row is `[last run key] ++ fold.encode(state)`; this runner is its
    * only encoder. Ordering contract (the reference's own, §2.9):
    * a key's rows must arrive in run-key order ACROSS triggers. A
    * trigger whose first run key regresses below the key's last one
    * throws IllegalStateException instead of silently corrupting the
    * state (a window fold would mis-evict). A run split across two
    * triggers is fed as two runs: stream equals batch when the source
    * delivers runs atomically. */
  def runStream[I, K: Encoder, O: Encoder](ds: Dataset[I], key: I => K,
      fold: KeyedFold[I, O]): Dataset[O] = {
    graft.streaming.StreamingSession.install(ds.sparkSession)
    import ds.sparkSession.implicits._
    val stateEnc = implicitly[Encoder[Array[Long]]]
    val fields = fold.order.toArray
    val ord: Ordering[I] = (a: I, b: I) => {
      var c = 0
      var i = 0
      while (c == 0 && i < fields.length) {
        c = java.lang.Long.compare(fields(i).key(a), fields(i).key(b)); i += 1
      }
      c
    }
    ds.groupByKey(key).flatMapGroupsWithState[Array[Long], O](
      OutputMode.Append, GroupStateTimeout.NoTimeout)(
      (k: K, rows: Iterator[I], state: GroupState[Array[Long]]) => {
        val sorted = rows.toIndexedSeq.sorted(ord)
        val saved = state.getOption
        var last = saved.fold(Long.MinValue)(_(0))
        if (saved.isDefined && sorted.nonEmpty && fold.runKey(sorted.head) < last)
          throw new IllegalStateException(
            s"okey regression for key '$k': trigger min run key " +
            s"${fold.runKey(sorted.head)} < state max run key $last. A key's " +
            "rows must arrive in order across triggers (ordered log or " +
            "run-aligned triggers); an out-of-order row corrupts the state.")
        val s = saved.fold(fold.init())(fold.decode(_, 1))
        val out = ArrayBuffer.empty[O]
        runs(sorted.iterator.buffered,
            (a: I, b: I) => fold.runKey(a) == fold.runKey(b)).foreach { run =>
          fold.step(s, run, out += _)
          last = fold.runKey(run(0))
        }
        state.update(last +: fold.encode(s))
        out.iterator
      })(stateEnc, implicitly[Encoder[O]])
  }

  /** Maximal runs of consecutive rows that are `same`. */
  private def runs[I](it: scala.collection.BufferedIterator[I], same: (I, I) => Boolean)
      : Iterator[IndexedSeq[I]] = new Iterator[IndexedSeq[I]] {
    def hasNext: Boolean = it.hasNext
    def next(): IndexedSeq[I] = {
      val run = ArrayBuffer(it.next())
      while (it.hasNext && same(run(0), it.head)) run += it.next()
      run
    }
  }

  /** The rows a RANGE window holds, oldest first: entries of `width`
    * longs (okey first) in one growable buffer, plus `nSums` running
    * aggregates. Encodes as sums ++ entries. */
  private final class Window(val width: Int, nSums: Int) {
    val sums = new Array[Long](nSums)
    var data = new Array[Long](width * 16)
    private var lo = 0
    private var hi = 0
    def size: Int = (hi - lo) / width
    /** Offset of a new entry at the tail; the caller fills it. */
    def slot(): Int = {
      if (hi + width > data.length) {
        val live = hi - lo
        val next = if (live * 2 <= data.length) data
          else new Array[Long](data.length * 2)
        System.arraycopy(data, lo, next, 0, live)
        data = next; lo = 0; hi = live
      }
      hi += width
      hi - width
    }
    def headOkey: Long = data(lo)
    /** Drop the oldest entry; its offset stays readable until the next
      * [[slot]]. */
    def evict(): Int = { lo += width; lo - width }
    /** Offset of the e-th entry, oldest first. */
    def at(e: Int): Int = lo + e * width
    def encode: Array[Long] = sums ++ data.slice(lo, hi)
  }

  /** A sliding RANGE-window fold: the window is `[okey - rangeUnits,
    * okey]`, inclusive, like `rangeBetween`. A run (equal okey) enters
    * the window whole before any of its rows emits: RANGE frames
    * include peer rows. */
  private abstract class RangeFold[I, O](okey: LongField[I], rangeUnits: Long,
      width: Int, nSums: Int) extends KeyedFold[I, O] {
    type S = Window
    override def runKey(i: I): Long = okey.get(i)
    def init(): Window = new Window(width, nSums)
    def encode(w: Window): Array[Long] = w.encode
    def decode(a: Array[Long], from: Int): Window = {
      val w = init()
      System.arraycopy(a, from, w.sums, 0, nSums)
      var p = from + nSums
      while (p < a.length) {
        val at = w.slot()
        System.arraycopy(a, p, w.data, at, width); p += width
      }
      w
    }
    /** Fill entry `at` (after its okey) from `r`; update the sums. */
    protected def add(w: Window, at: Int, r: I): Unit
    /** Undo [[add]] of the evicted entry at `at` in the sums. */
    protected def remove(w: Window, at: Int): Unit = ()
    /** Emit the run's rows over the current window. */
    protected def emitRun(w: Window, run: IndexedSeq[I], emit: O => Unit): Unit

    final def step(w: Window, run: IndexedSeq[I], emit: O => Unit): Unit = {
      val ok = okey.get(run(0))
      run.foreach { r => val at = w.slot(); w.data(at) = ok; add(w, at, r) }
      while (w.headOkey < ok - rangeUnits) remove(w, w.evict())
      emitRun(w, run, emit)
    }
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
  private def dbl(l: Long): Double = java.lang.Double.longBitsToDouble(l)

  /** Sliding population stddev, two-pass per emission (mean, then the
    * centered second moment) over the window in order — the most
    * numerically stable direct form. Ordered by (okey, value), so
    * peers sum in one order under any partitioning. */
  def stddevPop[I, O](okey: LongField[I], value: DoubleField[I],
      rangeUnits: Long)(out: (I, Double) => O): KeyedFold[I, O] =
    new RangeFold[I, O](okey, rangeUnits, 2, 0) {
      val order: Seq[Field[I]] = Seq(okey, value)
      protected def add(w: Window, at: Int, r: I): Unit =
        w.data(at + 1) = bits(value.get(r))
      protected def emitRun(w: Window, run: IndexedSeq[I], emit: O => Unit): Unit = {
        val n = w.size
        var sum = 0.0
        var e = 0
        while (e < n) { sum += dbl(w.data(w.at(e) + 1)); e += 1 }
        val mean = sum / n
        var m2 = 0.0
        e = 0
        while (e < n) { val d = dbl(w.data(w.at(e) + 1)) - mean; m2 += d * d; e += 1 }
        val sd = math.sqrt(m2 / n)
        run.foreach(r => emit(out(r, sd)))
      }
    }

  /** Sliding trade-volume imbalance 2(b-s)/(b+s) over per-row buy and
    * sell contributions, None when b+s = 0. Exact when the
    * contributions are integer-valued (cents); ordered by (okey, buy,
    * sell), so non-integer sums also add in one order. */
  def tvi[I, O](okey: LongField[I], buy: DoubleField[I], sell: DoubleField[I],
      rangeUnits: Long)(out: (I, Option[Double]) => O): KeyedFold[I, O] =
    new RangeFold[I, O](okey, rangeUnits, 3, 0) {
      val order: Seq[Field[I]] = Seq(okey, buy, sell)
      protected def add(w: Window, at: Int, r: I): Unit = {
        w.data(at + 1) = bits(buy.get(r)); w.data(at + 2) = bits(sell.get(r))
      }
      protected def emitRun(w: Window, run: IndexedSeq[I], emit: O => Unit): Unit = {
        var b = 0.0
        var s = 0.0
        var e = 0
        while (e < w.size) {
          val at = w.at(e); b += dbl(w.data(at + 1)); s += dbl(w.data(at + 2)); e += 1
        }
        val v = if (b + s == 0.0) None else Some(2.0 * (b - s) / (b + s))
        run.foreach(r => emit(out(r, v)))
      }
    }

  /** INCREMENTAL sliding stddev over integer-valued cents: running
    * (sum, sum of squares) as doubles, updated as rows enter and leave
    * — O(1) amortized per row. Integer-valued double sums are exact in
    * any order and under removal below 2^53, so the sums equal a
    * from-scratch recompute bit for bit; stddev = sqrt(ss/n -
    * (s/n)^2) / 100. */
  def stddevCents[I, O](okey: LongField[I], cents: I => Double,
      rangeUnits: Long)(out: (I, Double) => O): KeyedFold[I, O] =
    new RangeFold[I, O](okey, rangeUnits, 2, 2) {
      val order: Seq[Field[I]] = Seq(okey)
      protected def add(w: Window, at: Int, r: I): Unit = {
        val c = cents(r)
        w.data(at + 1) = bits(c)
        w.sums(0) = bits(dbl(w.sums(0)) + c); w.sums(1) = bits(dbl(w.sums(1)) + c * c)
      }
      override protected def remove(w: Window, at: Int): Unit = {
        val c = dbl(w.data(at + 1))
        w.sums(0) = bits(dbl(w.sums(0)) - c); w.sums(1) = bits(dbl(w.sums(1)) - c * c)
      }
      protected def emitRun(w: Window, run: IndexedSeq[I], emit: O => Unit): Unit = {
        val n = w.size
        val mean = dbl(w.sums(0)) / n
        val varC = math.max(0.0, dbl(w.sums(1)) / n - mean * mean)
        val sd = math.sqrt(varC) / 100.0
        run.foreach(r => emit(out(r, sd)))
      }
    }

  /** EXACT z-score anomaly flags in pure Long arithmetic: running
    * (s, ss) over the window's cents, and a row is anomalous iff
    * (n·x − s)² > z²·(n·ss − s²) — the rule of
    * [[WindowOps.anomalyExactFlag]]. Emits (row, n, flag). */
  def anomaly[I, O](okey: LongField[I], cents: I => Long, rangeUnits: Long,
      z: Int)(out: (I, Long, Int) => O): KeyedFold[I, O] = {
    val zz = z.toLong * z
    new RangeFold[I, O](okey, rangeUnits, 2, 2) {
      val order: Seq[Field[I]] = Seq(okey)
      protected def add(w: Window, at: Int, r: I): Unit = {
        val c = cents(r)
        w.data(at + 1) = c; w.sums(0) += c; w.sums(1) += c * c
      }
      override protected def remove(w: Window, at: Int): Unit = {
        val c = w.data(at + 1)
        w.sums(0) -= c; w.sums(1) -= c * c
      }
      protected def emitRun(w: Window, run: IndexedSeq[I], emit: O => Unit): Unit = {
        val n = w.size.toLong
        val s = w.sums(0)
        val ss = w.sums(1)
        run.foreach { r =>
          val dev = n * cents(r) - s
          emit(out(r, n, if (dev * dev > zz * (n * ss - s * s)) 1 else 0))
        }
      }
    }
  }

  /** A6 elapsed-time throttle (svoe `stream_utils.py:12-24`): a row
    * passes iff at least `windowUs` elapsed since the last PASSED row
    * of its key. Ordered by (ts, seq), so of rows sharing a ts the
    * lowest seq is the one that can pass. */
  def throttle[I](ts: LongField[I], seq: LongField[I], windowUs: Long)
      : KeyedFold[I, I] = new KeyedFold[I, I] {
    type S = Array[Long] // the last passed ts
    val order: Seq[Field[I]] = Seq(ts, seq)
    def init(): Array[Long] = Array(Long.MinValue)
    def step(last: Array[Long], run: IndexedSeq[I], emit: I => Unit): Unit =
      run.foreach { r =>
        val t = ts.get(r)
        if (last(0) == Long.MinValue || t - last(0) >= windowUs) {
          last(0) = t; emit(r)
        }
      }
    def encode(last: Array[Long]): Array[Long] = last.clone()
    def decode(a: Array[Long], from: Int): Array[Long] = Array(a(from))
  }
}
