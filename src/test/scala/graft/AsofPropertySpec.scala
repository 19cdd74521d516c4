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

  test("asof == brute force, and is repartition-invariant (8 seeds)") {
    import spark.implicits._
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val lts = Seq.fill(40)(rnd.nextLong(200L)).distinct
      val rts = Seq.fill(25)(rnd.nextLong(200L)).distinct

      val l = lts.zipWithIndex.map { case (t, i) => (t, i.toLong) }
        .toDF("ts_us", "lid")
      val r = rts.zipWithIndex.map { case (t, i) => (t, i.toLong) }
        .toDF("ts_us", "rid")

      def collectMap(lf: org.apache.spark.sql.DataFrame,
          rf: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        AsofJoin.asofJoin(lf, rf, "ts_us", rightPrefix = "r",
            rightTieBreak = Some("rid"))
          .collect()
          .map(x => (x.getLong(x.fieldIndex("ts_us")),
            if (x.isNullAt(x.fieldIndex("r_rid"))) -1L
            else x.getLong(x.fieldIndex("r_rid"))))
          .toMap

      val out = collectMap(l, r)
      val rSorted = rts.zipWithIndex
      lts.foreach { t =>
        val expect = rSorted.filter(_._1 <= t) match {
          case Nil => -1L
          case xs =>
            val best = xs.map(_._1).max
            xs.filter(_._1 == best).map(_._2.toLong).max
        }
        assert(out(t) == expect, s"seed=$seed left ts=$t")
      }

      val out2 = collectMap(l.repartition(7), r.repartition(5))
      assert(out2 == out, s"seed=$seed repartition changed results")
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
      // bucket sizes: finer than the span (many buckets incl. empty
      // ones), mid, and wider than the span (degenerates to one bucket
      // per key == the unsalted plan)
      for (bucketUs <- Seq(7L, 100L, 10000L)) {
        val salted = AsofJoin.asofJoinSalted(l, r, "ts_us", Seq("k"),
          bucketUs, rightPrefix = "r", rightTieBreak = Some("rid"))
        assert(asSet(salted) == want, s"seed=$seed bucketUs=$bucketUs")
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
      val lts = Seq.fill(40)(rnd.nextLong(200L)).distinct
      val rts = Seq.fill(25)(rnd.nextLong(200L)).distinct
      val l = lts.zipWithIndex.map { case (t, i) => (t, i.toLong) }
        .toDF("ts_us", "lid")
      val r = rts.zipWithIndex.map { case (t, i) => (t, i.toLong) }
        .toDF("ts_us", "rid")

      def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        df.collect().map(x => (x.getLong(x.fieldIndex("ts_us")),
          if (x.isNullAt(x.fieldIndex("r_rid"))) -1L
          else x.getLong(x.fieldIndex("r_rid")))).toMap

      val fwd = asMap(AsofJoin.asofJoinForward(l, r, "ts_us",
        rightPrefix = "r", rightTieBreak = Some("rid")))
      val near = asMap(AsofJoin.asofJoinNearest(l, r, "ts_us",
        rightPrefix = "r", rightTieBreak = Some("rid")))
      val rIdx = rts.zipWithIndex
      lts.foreach { t =>
        // forward: earliest right ts >= t (rts distinct -> no ties)
        val fExpect = rIdx.filter(_._1 >= t) match {
          case Nil => -1L
          case xs => xs.minBy(_._1)._2.toLong
        }
        assert(fwd(t) == fExpect, s"seed=$seed forward ts=$t")
        // nearest: min |distance|, distance ties resolved backward
        val nExpect =
          if (rIdx.isEmpty) -1L
          else {
            val best = rIdx.map(x => math.abs(x._1 - t)).min
            rIdx.filter(x => math.abs(x._1 - t) == best)
              .minBy(_._1)._2.toLong // smaller ts = backward wins
          }
        assert(near(t) == nExpect, s"seed=$seed nearest ts=$t")
      }
    }
  }
}
