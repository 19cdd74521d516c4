package lifebench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{BuiltinDefs, Feature, Forest, SourceDef}
import graft.sources.BlockCatalog

/** Many small catalog calls, reads beside writes: block appends across
  * two (definition, key) tables interleaved with short range scans,
  * time-travel scans, memoized forest builds that miss and hit, and one
  * compaction plus vacuum. */
final class FeatureStore extends Workload {
  import FeatureStore.Table
  val Rounds = 2
  val LookbackUs = 1000000L

  private var tables: IndexedSeq[Table] = IndexedSeq.empty
  private var seed = 0L
  private var lastScan: (Seq[String], Seq[String]) = (Nil, Nil)
  private var lastCompact: (Seq[String], Seq[String], Int, Int) = (Nil, Nil, 0, 0)

  def generate(spark: SparkSession, dir: Path, seed: Long, tiny: Boolean): Unit = {
    this.seed = seed
    val m = Gen.market(seed, 1, if (tiny) 600 else 8000, 10000L)
    def split[T](xs: Array[T]) =
      (0 until Rounds).map(r => xs.slice(r * xs.length / Rounds, (r + 1) * xs.length / Rounds))
    tables = m.instruments.toIndexedSeq.flatMap { inst =>
      val trs = m.trades.filter(_.instrument == inst).sortBy(t => (t.tsUs, t.seq))
      val bks = m.book.filter(_.instrument == inst).sortBy(b => (b.tsUs, b.seq))
      Seq(
        Table("trades", inst, split(trs).map(b =>
          (Schemas.tradesFrame(spark, b.toSeq), b.map(t => (Schemas.tradeKey(t), t.tsUs)).toIndexedSeq))),
        Table("book", inst, split(bks).map(b =>
          (Schemas.bookFrame(spark, b.toSeq), b.map(u => (Schemas.bookKey(u), u.tsUs)).toIndexedSeq))))
    }
  }

  private def volF = Feature(BuiltinDefs.VolatilityDef,
    Map("ts" -> "ts_us", "seq" -> "seq", "by" -> "instrument", "value" -> "price",
      "lookback_us" -> LookbackUs.toString), Seq(Feature(SourceDef("trades"))))

  private def keys(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(Schemas.rowKey).toSeq.sorted

  def pass(p: Pass): Unit = {
    val spark = p.spark
    val c = p.checks
    val cat = new BlockCatalog(spark, p.path("catalog"))
    val rnd = new java.util.Random(seed)
    val written = Array.fill(tables.size)(0)
    def cols(t: Table) =
      Schemas.cols(if (t.definition == "trades") Schemas.Trades else Schemas.Book)
    def expected(t: Table, upTo: Int, lo: Long, hi: Long) =
      t.blocks.take(upTo).flatMap(_._2).filter { case (_, ts) => ts >= lo && ts <= hi }
        .map(_._1).sorted

    /** A scan (or a scan as of `ver`) materialized, checked against the
      * rows the generator placed in that range and version. */
    def scan(t: Table, blocks: Int, lo: Long, hi: Long, ver: Option[Long]): Unit = {
      val df = p.call("sources.scan_build") {
        ver.fold(cat.scan(t.definition, t.key, lo, hi))(
          v => cat.scanAsOf(t.definition, t.key, lo, hi, v))
      }
      val got = p.call("sources.scan_action") { df.select(cols(t): _*).collect() }
      if (p.check) {
        val want = expected(t, blocks, lo, hi)
        c(s"scan: ${t.definition}/${t.key} [$lo, $hi] as of ${ver.getOrElse("now")}")(
          keys(got) == want, s"${got.length} rows vs ${want.size}")
        lastScan = (keys(got), want)
      }
    }

    /** Two memoized builds of one forest at the table's current version:
      * the first computes and stores, the second is served from the
      * catalog and must equal it. */
    def memo(t: Table): Unit = {
      val ver = cat.currentVersion(t.definition, t.key)
      val results = (1 to 2).map { _ =>
        val built = p.call("core.memo") {
          val src = Map("trades" -> cat.scanAll(t.definition, t.key).select(cols(t): _*))
          Forest.buildMemoized(Seq(volF), src, cat, "ts_us",
            Map("trades" -> s"${t.key}@$ver"))
        }
        p.call("sources.scan_action") { built(volF).collect() }
      }
      if (p.check)
        c(s"memo: hit equals the miss that stored it (${t.key}@$ver)")(
          keys(results(0)) == keys(results(1)) &&
            results(0).length == t.blocks.take(written(tables.indexOf(t))).map(_._2.size).sum)
    }

    (0 until Rounds).foreach { r =>
      tables.indices.foreach { i =>
        val t = tables(i)
        val stored = p.call("sources.write") {
          cat.write(t.blocks(r)._1, t.definition, t.key, "ts_us")
        }
        written(i) += 1
        if (p.check) c(s"write: ${t.definition}/${t.key} block $r stored")(stored)
        // a short range scan of a neighbour table's written blocks
        val u = (i + 1) % tables.size
        val v = if (written(u) > 0) u else i
        val rows = tables(v).blocks.take(written(v)).flatMap(_._2)
        val lo = rows(rnd.nextInt(rows.size))._2
        scan(tables(v), written(v), lo, lo + 300000L, None)
      }
      // time travel: the first table as of its previous version
      if (r > 0) {
        val t = tables(0)
        val all = t.blocks.flatMap(_._2).map(_._2)
        scan(t, r, all.min, all.max, Some(r.toLong))
      }
      if (r == Rounds - 1) memo(tables(0))
    }

    // compaction of the first table's blocks, then vacuum
    val t = tables(0)
    def live() = cat.meta.filter(col("definition") === t.definition && col("key") === t.key).count().toInt
    val before = if (p.check) keys(cat.scanAll(t.definition, t.key).select(cols(t): _*).collect()) else Nil
    val liveBefore = if (p.check) live() else 0
    p.call("sources.compact") {
      cat.compactSmallBlocks(t.definition, t.key, Long.MaxValue)
      cat.vacuum(t.definition, t.key)
    }
    p.counts ++= Layers.catalogSizes(p.dir.resolve("catalog"))
    if (p.check) {
      val after = keys(cat.scanAll(t.definition, t.key).select(cols(t): _*).collect())
      val liveAfter = live()
      checkCompact(c, before, after, liveBefore, liveAfter)
      lastCompact = (before, after, liveBefore, liveAfter)
    }
  }

  private def checkCompact(c: Checks, before: Seq[String], after: Seq[String],
      liveBefore: Int, liveAfter: Int): Unit = {
    c("compact: multiset preserved")(before == after && before.nonEmpty,
      s"${after.size} rows vs ${before.size}")
    c("compact: fewer live blocks")(liveAfter < liveBefore, s"$liveAfter vs $liveBefore")
  }

  def corruptionsCaught(): Seq[(String, Boolean)] = {
    def fails(f: Checks => Unit): Boolean = { val c = new Checks; f(c); c.failures.nonEmpty }
    val (got, want) = lastScan
    val (b, a, lb, la) = lastCompact
    Seq(
      "feature_store: dropped scan row" ->
        fails(c => c("scan")(got.tail == want)),
      "feature_store: dropped row in compaction" -> fails(checkCompact(_, b, a.tail, lb, la)),
      "feature_store: compaction kept every block" -> fails(checkCompact(_, b, a, lb, lb)))
  }
}

object FeatureStore {
  /** A table's generated blocks, in append order; each row is its
    * catalog text key plus its timestamp. */
  private final case class Table(definition: String, key: String,
      blocks: IndexedSeq[(DataFrame, IndexedSeq[(String, Long)])])
}
