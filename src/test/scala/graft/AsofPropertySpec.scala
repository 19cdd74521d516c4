package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.AsofJoin

/** Property-style tests for the as-of join (SURVEY §5 test plan):
  * results are (1) exactly the brute-force backward lookup and (2)
  * invariant under input repartitioning — the prev-block-seeding bug
  * class (J2) the reference guards with per-block fixtures.
  */
class AsofPropertySpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  /** `rid` of the winning right row per `lid` (-1 when none). */
  private def ridByLid(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(x => (x.getLong(x.fieldIndex("lid")),
      if (x.isNullAt(x.fieldIndex("r_rid"))) -1L
      else x.getLong(x.fieldIndex("r_rid")))).toMap

  /** Seeded (ts, id) rows on a narrow ts range, so equal timestamps
    * are planted on both sides; ids are unique. */
  private def tiedRows(rnd: scala.util.Random, n: Int, span: Long): Seq[(Long, Long)] =
    Seq.fill(n)(rnd.nextLong(span)).zipWithIndex.map { case (t, i) => (t, i.toLong) }

  private val partitionings = Seq(1, 3, 7, 13)

  test("asof == brute force, and is repartition-invariant (8 seeds)") {
    import spark.implicits._
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val ls = tiedRows(rnd, 40, 60L)
      val rs = tiedRows(rnd, 25, 60L)
      // the latest right ts at or before the left ts, the largest rid
      // among equal right ts
      val want = ls.map { case (t, lid) =>
        lid -> rs.filter(_._1 <= t).maxByOption(r => (r._1, r._2)).fold(-1L)(_._2)
      }.toMap
      val l = ls.toDF("ts_us", "lid")
      val r = rs.toDF("ts_us", "rid")
      partitionings.foreach { n =>
        val ln = l.repartition(n)
        val rn = r.repartition(n)
        assert(ridByLid(AsofJoin.asofJoin(ln, rn, "ts_us", rightPrefix = "r",
          rightTieBreak = Some("rid"))) == want, s"seed=$seed asofJoin, $n partitions")
        assert(ridByLid(AsofJoin.asofJoinRangePartitioned(ln, rn, "ts_us",
          rightPrefix = "r", numPartitions = 4, rightTieBreak = Some("rid"))) == want,
          s"seed=$seed asofJoinRangePartitioned, $n partitions")
      }
    }
  }

  test("lookaheadShift with tieBreak == replay, whatever the partitioning (4 seeds)") {
    import spark.implicits._
    val delta = 20L
    for (seed <- 301 to 304) {
      val rnd = new scala.util.Random(seed)
      // ts on a 10us grid of 25 points, so keys hold many equal-ts rows
      // and probes (ts + 20) land exactly on them; ids are unique
      val rows = (0 until 240).map(i =>
        (s"k${rnd.nextInt(3)}", rnd.nextLong(25L) * 10, i.toLong, rnd.nextLong(1000L)))
      // the latest row at or before the probe, the largest id among
      // equal ts; each key's trailing delta dropped
      val want = rows.groupBy(_._1).values.toSeq.flatMap { rs =>
        val maxTs = rs.map(_._2).max
        rs.filter(_._2 <= maxTs - delta).map { case (k, ts, id, v) =>
          val hit = rs.filter(_._2 <= ts + delta).maxBy(r => (r._2, r._3))
          (k, ts, id, v, hit._3, hit._4)
        }
      }.sorted
      val df = rows.toDF("k", "ts_us", "id", "v")
      Seq(1, 3, 7, 13).foreach { n =>
        val out = AsofJoin.lookaheadShift(df.repartition(n), "ts_us", delta, Seq("k"),
          tieBreak = Some("id"))
        assert(out.columns.toSeq == Seq("k", "ts_us", "id", "v", "label_id", "label_v"))
        val got = out.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq.sorted
        assert(got == want, s"seed=$seed, $n partitions")
      }
    }
  }

  test("salted asof == asofJoin on skewed keys (6 seeds x 3 bucket sizes)") {
    import spark.implicits._
    for (seed <- 201 to 206) {
      val rnd = new scala.util.Random(seed)
      // one hot key carries 90% of the rows; duplicate timestamps are
      // ALLOWED (tie-break arbitrates), which stresses the bucket
      // boundary + carry ordering at equal ts
      def key() = if (rnd.nextInt(10) < 9) "hot" else s"k${rnd.nextInt(3)}"
      val l = Seq.fill(120)((key(), rnd.nextLong(500L), rnd.nextLong(1000000L)))
        .zipWithIndex.map { case ((k, t, _), i) => (k, t, i.toLong) }
        .toDF("k", "ts_us", "lid")
      val r = Seq.fill(80)((key(), rnd.nextLong(500L)))
        .zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong, t * 2 + i) }
        .toDF("k", "ts_us", "rid", "rv")

      def asSet(df: org.apache.spark.sql.DataFrame): Set[String] =
        df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

      val want = asSet(AsofJoin.asofJoin(l, r, "ts_us", Seq("k"),
        rightPrefix = "r", rightTieBreak = Some("rid")))
      // brute force: the same key's latest right ts at or before the
      // left ts, the largest rid among equal right ts
      val ls = l.as[(String, Long, Long)].collect().toSeq
      val rs = r.as[(String, Long, Long, Long)].collect().toSeq
      val brute = ls.map { case (k, t, lid) =>
        lid -> rs.filter(x => x._1 == k && x._2 <= t)
          .maxByOption(x => (x._2, x._3)).fold(-1L)(_._3)
      }.toMap
      assert(ridByLid(AsofJoin.asofJoin(l, r, "ts_us", Seq("k"),
        rightPrefix = "r", rightTieBreak = Some("rid"))) == brute, s"seed=$seed asofJoin")
      // bucket sizes: finer than the span (many buckets incl. empty
      // ones), mid, and wider than the span (degenerates to one bucket
      // per key == the unsalted plan)
      for (bucketUs <- Seq(7L, 100L, 10000L); n <- partitionings) {
        val salted = AsofJoin.asofJoinSalted(l.repartition(n), r.repartition(n),
          "ts_us", Seq("k"), bucketUs, rightPrefix = "r", rightTieBreak = Some("rid"))
        assert(asSet(salted) == want, s"seed=$seed bucketUs=$bucketUs, $n partitions")
        assert(ridByLid(salted) == brute, s"seed=$seed bucketUs=$bucketUs, $n partitions")
      }
    }
  }

  test("salted asof plan shows the (key, bucket) salted exchange") {
    import spark.implicits._
    val l = Seq(("a", 10L, 1L)).toDF("k", "ts_us", "lid")
    val r = Seq(("a", 5L, 1L)).toDF("k", "ts_us", "rid")
    val plan = AsofJoin.asofJoinSalted(l, r, "ts_us", Seq("k"), 100L,
      rightPrefix = "r").queryExecution.executedPlan.toString
    assert(plan.contains("__asof_bkt"),
      "salted bucket column missing from the physical plan")
  }

  test("forward and nearest asof == brute force (8 seeds)") {
    import spark.implicits._
    for (seed <- 101 to 108) {
      val rnd = new scala.util.Random(seed)
      val ls = tiedRows(rnd, 40, 60L)
      val rs = tiedRows(rnd, 25, 60L)
      // forward: the earliest right ts at or after the left ts; among
      // equal right ts the largest rid wins, as backward
      val fwant = ls.map { case (t, lid) =>
        lid -> rs.filter(_._1 >= t).maxByOption(r => (-r._1, r._2)).fold(-1L)(_._2)
      }.toMap
      // nearest: min |distance|, distance ties resolved backward
      // (smaller ts), then the largest rid
      val nwant = ls.map { case (t, lid) =>
        lid -> rs.maxByOption(r => (-math.abs(r._1 - t), -r._1, r._2)).fold(-1L)(_._2)
      }.toMap
      val l = ls.toDF("ts_us", "lid")
      val r = rs.toDF("ts_us", "rid")
      partitionings.foreach { n =>
        val ln = l.repartition(n)
        val rn = r.repartition(n)
        assert(ridByLid(AsofJoin.asofJoinForward(ln, rn, "ts_us",
          rightPrefix = "r", rightTieBreak = Some("rid"))) == fwant,
          s"seed=$seed forward, $n partitions")
        assert(ridByLid(AsofJoin.asofJoinNearest(ln, rn, "ts_us",
          rightPrefix = "r", rightTieBreak = Some("rid"))) == nwant,
          s"seed=$seed nearest, $n partitions")
      }
    }
  }
}
