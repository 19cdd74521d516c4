package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, sum, udf, xxhash64}
import org.apache.spark.sql.types.DecimalType
import graft.sources.BlockCatalog
import graft.streaming.BlockWriter

class BlockCatalogSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  import spark.implicits._

  private val day0 = 1704067200000000L // 2024-01-01T00Z

  test("write + range scan + content-hash idempotency") {
    val root = Files.createTempDirectory("graft_catalog").toString
    val cat = new BlockCatalog(spark, root)
    val df = (0 until 100).map(i => (day0 + i * 3600000000L, i.toDouble))
      .toDF("ts_us", "v")

    assert(cat.write(df, "trades", "BTC", "ts_us"))
    // identical content → skipped
    assert(!cat.write(df, "trades", "BTC", "ts_us"))
    assert(cat.meta.count() == 1)

    // day-pruned + exact-bounded scan: hours 24..47 = day 2
    val got = cat.scan("trades", "BTC",
      day0 + 24 * 3600000000L, day0 + 47 * 3600000000L)
    assert(got.count() == 24)
    assert(got.agg(org.apache.spark.sql.functions.min(col("v"))).collect()(0)
      .getDouble(0) == 24.0)

    // different content under same key → stored
    assert(cat.write(df.withColumn("v", col("v") * 2), "trades", "BTC", "ts_us"))
    assert(cat.meta.count() == 2)
  }

  test("gap detection: ranges split where blocks leave a hole") {
    val root = Files.createTempDirectory("graft_gaps").toString
    val cat = new BlockCatalog(spark, root)
    def block(startHour: Int, hours: Int) =
      (0 until hours).map(i => (day0 + (startHour + i) * 3600000000L, i.toDouble))
        .toDF("ts_us", "v")
    // blocks covering hours [0,9], [10,19] (contiguous at 1h spacing),
    // then a 4-hour hole, then [24,29]
    assert(cat.write(block(0, 10), "trades", "ETH", "ts_us"))
    assert(cat.write(block(10, 10), "trades", "ETH", "ts_us"))
    assert(cat.write(block(24, 6), "trades", "ETH", "ts_us"))

    val ranges = cat.coveredRanges("trades", "ETH", maxGapUs = 3600000000L)
    assert(ranges == Seq(
      (day0, day0 + 19 * 3600000000L),
      (day0 + 24 * 3600000000L, day0 + 29 * 3600000000L)))

    // a request spanning the hole comes back split, with counts from
    // both sides and nothing invented inside the hole
    val parts = cat.scanSplitAtGaps("trades", "ETH",
      day0 + 15 * 3600000000L, day0 + 26 * 3600000000L,
      maxGapUs = 3600000000L)
    assert(parts.map(_._1) == Seq(
      (day0 + 15 * 3600000000L, day0 + 19 * 3600000000L),
      (day0 + 24 * 3600000000L, day0 + 26 * 3600000000L)))
    assert(parts.map(_._2.count()) == Seq(5, 3))

    // tight gap rule: every block boundary is a split
    assert(cat.coveredRanges("trades", "ETH", maxGapUs = 0L).size == 3)
  }

  test("time travel: snapshots survive compaction; vacuum reclaims, current scan intact") {
    val root = Files.createTempDirectory("graft_tt").toString
    val cat = new BlockCatalog(spark, root)
    def block(startHour: Int, hours: Int) =
      (0 until hours).map(i => (day0 + (startHour + i) * 3600000000L, (startHour + i).toDouble))
        .toDF("ts_us", "v")
    assert(cat.currentVersion("t", "K") == 0L)
    assert(cat.write(block(0, 3), "t", "K", "ts_us"))
    val v1 = cat.currentVersion("t", "K")
    assert(cat.write(block(3, 3), "t", "K", "ts_us"))
    val v2 = cat.currentVersion("t", "K")
    assert(v1 == 1L && v2 == 2L)
    // snapshot v1 sees only the first block
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("ts_us").collect().map(_.getDouble(1)).toSeq
    val lo = day0
    val hi = day0 + 10 * 3600000000L
    assert(rows(cat.scanAsOf("t", "K", lo, hi, v1)) == Seq(0.0, 1.0, 2.0))
    assert(rows(cat.scanAsOf("t", "K", lo, hi, v2)) ==
      Seq(0.0, 1.0, 2.0, 3.0, 4.0, 5.0))
    // compaction is one version; PRE-compaction snapshots still read
    assert(cat.compactSmallBlocks("t", "K", targetRows = 6L) == 1)
    val v3 = cat.currentVersion("t", "K")
    assert(v3 == 3L)
    assert(rows(cat.scanAsOf("t", "K", lo, hi, v1)) == Seq(0.0, 1.0, 2.0))
    assert(rows(cat.scanAsOf("t", "K", lo, hi, v2)) ==
      rows(cat.scanAsOf("t", "K", lo, hi, v3)))
    // vacuum reclaims the superseded dirs; the CURRENT view unaffected
    assert(cat.vacuum("t", "K") == 2)
    assert(cat.vacuum("t", "K") == 0) // idempotent
    assert(rows(cat.scan("t", "K", lo, hi)) ==
      Seq(0.0, 1.0, 2.0, 3.0, 4.0, 5.0))
  }

  test("compactSmallBlocks merges adjacent small blocks, preserving rows") {
    val root = Files.createTempDirectory("graft_compact").toString
    val cat = new BlockCatalog(spark, root)
    def block(startHour: Int, hours: Int) =
      (0 until hours).map(i => (day0 + (startHour + i) * 3600000000L, (startHour + i).toDouble))
        .toDF("ts_us", "v")
    // four 3-row blocks + one already-large block
    (0 until 4).foreach(g => assert(cat.write(block(g * 3, 3), "t", "K", "ts_us")))
    assert(cat.write(block(12, 10), "t", "K", "ts_us"))
    val before = cat.scanAll("t", "K").orderBy("ts_us").collect().toSeq
    assert(cat.meta.count() == 5)

    val n = cat.compactSmallBlocks("t", "K", targetRows = 6L)
    assert(n == 2) // (3+3), (3+3); the 10-row block stands alone
    assert(cat.meta.count() == 3)
    assert(cat.meta.filter(col("num_rows") < 6).count() == 0)
    // data identical after compaction, and covered ranges unchanged
    assert(cat.scanAll("t", "K").orderBy("ts_us").collect().toSeq == before)
    assert(cat.coveredRanges("t", "K", maxGapUs = 3600000000L) ==
      Seq((day0, day0 + 21 * 3600000000L)))
    // re-running is a no-op
    assert(cat.compactSmallBlocks("t", "K", targetRows = 6L) == 0)

    // crash-safety invariant: a data directory NOT listed in meta (a
    // write that died before its meta append, or a compaction
    // leftover) is invisible to scans — never a double-count
    block(0, 2).withColumn("day", org.apache.spark.sql.functions.lit("2024-01-01"))
      .write.partitionBy("day").parquet(s"$root/t/K/data/block=deadbeef")
    assert(cat.scanAll("t", "K").count() == before.size)
  }

  test("concurrent writers: meta mutations are append-only, races dedup on read") {
    val root = Files.createTempDirectory("graft_concurrent").toString
    val cat = new BlockCatalog(spark, root)
    def block(startHour: Int, hours: Int) =
      (0 until hours).map(i => (day0 + (startHour + i) * 3600000000L, (startHour + i).toDouble))
        .toDF("ts_us", "v")
    (0 until 4).foreach(g => assert(cat.write(block(g * 3, 3), "t", "K", "ts_us")))
    // an unrelated key a concurrent writer is appending to
    assert(cat.write(block(0, 5), "t", "OTHER", "ts_us"))

    // simulate a racing duplicate append (two writers stored the same
    // content before either saw the other's meta row): the live view
    // must collapse it, and scans must not double-count
    val dupRow = cat.meta.filter(col("definition") === "t" && col("key") === "K")
      .limit(1).withColumn("op", org.apache.spark.sql.functions.lit("add"))
    dupRow.write.mode("append").parquet(s"$root/_meta")
    assert(cat.meta.filter(col("key") === "K").count() == 4) // deduped
    assert(cat.scanAll("t", "K").count() == 12)

    // compaction must APPEND to the log, never rewrite it — every meta
    // part file present before must still exist after (so a concurrent
    // writer's append cannot be lost to a read-modify-write)
    def metaFiles() = new java.io.File(s"$root/_meta").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    val before = metaFiles()
    assert(cat.compactSmallBlocks("t", "K", targetRows = 6L) == 2)
    assert(before.subsetOf(metaFiles()), "compaction rewrote meta part files")

    // the concurrent key is untouched, compacted data intact
    assert(cat.meta.filter(col("key") === "OTHER").count() == 1)
    assert(cat.scanAll("t", "K").count() == 12)
    assert(cat.scanAll("t", "OTHER").count() == 5)
  }

  test("tombstones are permanent: re-writing compacted content is a no-op") {
    val root = Files.createTempDirectory("graft_tombstone").toString
    val cat = new BlockCatalog(spark, root)
    def block(startHour: Int, hours: Int) =
      (0 until hours).map(i => (day0 + (startHour + i) * 3600000000L, (startHour + i).toDouble))
        .toDF("ts_us", "v")
    assert(cat.write(block(0, 3), "t", "K", "ts_us"))
    assert(cat.write(block(3, 3), "t", "K", "ts_us"))
    assert(cat.compactSmallBlocks("t", "K", targetRows = 6L) == 1)
    assert(cat.meta.count() == 1)
    // the members' content now lives inside the compacted block:
    // re-admitting a member would double-count its rows
    assert(!cat.write(block(0, 3), "t", "K", "ts_us"))
    assert(cat.meta.count() == 1)
    assert(cat.scanAll("t", "K").count() == 6)
  }

  test("crash between data and meta writes: replay does not duplicate rows") {
    val root = Files.createTempDirectory("graft_crash").toString
    val cat = new BlockCatalog(spark, root)
    val df = (0 until 50).map(i => (day0 + i * 1000000L, i.toDouble))
      .toDF("ts_us", "v")
    assert(cat.write(df, "feat", "K", "ts_us"))
    val before = cat.scanAll("feat", "K").count()

    // simulate a crash that lost the meta append but kept the data
    import scala.reflect.io.Directory
    new Directory(new java.io.File(s"$root/_meta")).deleteRecursively()
    assert(cat.meta.columns.isEmpty || cat.meta.count() == 0)

    // at-least-once replay of the same content: block dir is overwritten
    // (deterministic block=<hash> path), meta re-recorded once
    assert(cat.write(df, "feat", "K", "ts_us"))
    assert(cat.scanAll("feat", "K").count() == before)
    assert(cat.meta.count() == 1)
  }

  test("collected-log cache: an external writer's commit is visible without refresh") {
    // Two catalog instances over one root simulate two processes. The
    // r10 collected-log cache is keyed on a listing fingerprint of the
    // append-only meta log — any commit from ANY process adds uniquely
    // named part files, so a second instance's append must invalidate
    // the first instance's cache on the next call, with no explicit
    // refresh (r10 verdict item 6).
    val root = Files.createTempDirectory("graft_ext").toString
    val a = new BlockCatalog(spark, root)
    val b = new BlockCatalog(spark, root)
    val df1 = (0 until 20).map(i => (day0 + i * 1000000L, i.toDouble))
      .toDF("ts_us", "v")
    val df2 = df1.withColumn("v", col("v") + 1000.0)

    // A commits; warm BOTH of B's caches (collected log + version) first
    assert(b.meta.columns.isEmpty || b.meta.count() == 0)
    assert(b.currentVersion("feat", "X") == 0L)
    assert(a.write(df1, "feat", "X", "ts_us"))

    // B sees A's commit through its warmed cache: version, log rows,
    // and — the strongest probe — content-hash dedup of A's exact bytes
    assert(b.currentVersion("feat", "X") == 1L)
    assert(b.meta.count() == 1)
    assert(!b.write(df1, "feat", "X", "ts_us")) // dup detected cross-instance

    // B commits new content; A (whose caches are warm from its write)
    // must observe it the same way
    assert(b.write(df2, "feat", "X", "ts_us"))
    assert(a.currentVersion("feat", "X") == 2L)
    assert(a.meta.count() == 2)
    assert(!a.write(df2, "feat", "X", "ts_us"))
    assert(a.scanAll("feat", "X").count() == 40)
  }

  test("meta append is temp+rename: a stranded .tmp never breaks log reads") {
    // r17 (r16 ADVICE medium): appendMetaRows writes to a dotted .tmp
    // and renames into place, so a crash mid-write leaves only a
    // hidden file parquet readers skip. Simulate the crash artifact
    // and verify every meta read path still works.
    val root = Files.createTempDirectory("graft_tmpmeta").toString
    val cat = new BlockCatalog(spark, root)
    val df1 = (0 until 10).map(i => (day0 + i * 1000000L, i.toDouble))
      .toDF("ts_us", "v")
    assert(cat.write(df1, "feat", "T", "ts_us"))
    // stranded partial write: garbage bytes under a .tmp name
    Files.write(java.nio.file.Paths.get(root, "_meta", ".part-crash.parquet.tmp"),
      Array[Byte](1, 2, 3))
    val fresh = new BlockCatalog(spark, root) // cold caches: must re-read the log
    assert(fresh.meta.count() == 1)
    assert(fresh.currentVersion("feat", "T") == 1L)
    assert(fresh.scanAll("feat", "T").count() == 10)
    assert(!fresh.write(df1, "feat", "T", "ts_us")) // dedup still sees the row
  }

  test("meta-log fingerprint is fork-free: write, scan and a cached scan start no ls") {
    // every catalog read lists the meta log to check its collected-log
    // cache; a listing that loads owners and permissions forks one
    // `ls -ld` per meta file without Hadoop's native library
    val root = Files.createTempDirectory("graft_fp_forks").toString
    val cat = new BlockCatalog(spark, root)
    val df = (0 until 50).map(i => (day0 + i * 60000000L, i.toDouble))
      .toDF("ts_us", "v")
    val cmds = ForkProbe.processStarts {
      assert(cat.write(df, "feat", "K", "ts_us"))
      assert(cat.scan("feat", "K", day0, day0 + 49 * 60000000L).count() == 50)
      assert(cat.scan("feat", "K", day0, day0 + 9 * 60000000L).count() == 10)
    }
    assert(!cmds.exists(_.startsWith("ls")), cmds.mkString("\n"))
  }

  test("write runs its input plan once, and so does a flush-per-batch BlockWriter drain") {
    val acc = spark.sparkContext.longAccumulator("graft_catalog_rows")
    val bump = udf { (v: Double) => acc.add(1L); v }
    val cat = new BlockCatalog(spark, Files.createTempDirectory("graft_once").toString)
    val df = spark.range(40)
      .select((lit(day0) + col("id") * 1000000L).as("ts_us"),
        bump(col("id").cast("double")).as("v"))
    assert(cat.write(df, "feat", "K", "ts_us"))
    assert(acc.value == 40L, "the written frame's plan ran more than once")

    acc.reset()
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    val q = BlockWriter.start(
      input.toDS().toDF("ts_us", "v").withColumn("v", bump(col("v"))),
      cat, "feat", "S", "ts_us", triggerMs = 0L)
    try {
      input.addData((0 until 10).map(i => (day0 + i, i.toDouble)))
      q.processAllAvailable()
      input.addData((10 until 15).map(i => (day0 + i, i.toDouble)))
      q.processAllAvailable()
    } finally q.stop()
    assert(acc.value == 15L, "a micro-batch's plan ran more than once")
    assert(cat.scanAll("feat", "S").count() == 15L)
  }

  test("hash continuity: a block directory is named by the decimal sum of row xxhash64") {
    // catalogs written before the single-pass write dedup against
    // writes after it only if the hash formula is unchanged
    val root = Files.createTempDirectory("graft_hash").toString
    val cat = new BlockCatalog(spark, root)
    val df = (0 until 30).map(i => (day0 + i * 3600000000L, i.toDouble, s"s$i"))
      .toDF("ts_us", "v", "name")
    assert(cat.write(df, "feat", "K", "ts_us"))
    val h = df.select(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*)
        .cast(DecimalType(38, 0)).as("h"))
      .agg(sum(col("h"))).collect()(0).getDecimal(0).toBigInteger.toString(16)
    val dirs = new java.io.File(s"$root/feat/K/data").list().filter(_.startsWith("block="))
    assert(dirs.toSeq == Seq(s"block=$h"))
    assert(cat.meta.select("hash").as[String].collect().toSeq == Seq(h))
  }

  test("a _staging leftover is invisible to scans, and vacuum removes it") {
    val root = Files.createTempDirectory("graft_staging").toString
    val cat = new BlockCatalog(spark, root)
    val df = (0 until 20).map(i => (day0 + i * 1000000L, i.toDouble)).toDF("ts_us", "v")
    assert(cat.write(df, "feat", "K", "ts_us"))
    // a write that died between its staging write and its rename
    val staging = new java.io.File(s"$root/feat/K/data/_staging/crashed")
    df.withColumn("day", lit("2024-01-01"))
      .write.partitionBy("day").parquet(staging.toString)
    assert(staging.listFiles().exists(_.getName.startsWith("day=")))
    assert(cat.scanAll("feat", "K").count() == 20L)
    assert(cat.vacuum("feat", "K") == 0)
    assert(!staging.getParentFile.exists())
    assert(cat.scanAll("feat", "K").count() == 20L)
  }

  test("re-writing over an unlisted block directory replaces it, with no nesting") {
    val root = Files.createTempDirectory("graft_nest").toString
    val cat = new BlockCatalog(spark, root)
    val df = (0 until 50).map(i => (day0 + i * 3600000000L, i.toDouble)).toDF("ts_us", "v")
    assert(cat.write(df, "feat", "K", "ts_us"))
    // lose the meta append: block=<hash> stays on disk, unlisted
    new scala.reflect.io.Directory(new java.io.File(s"$root/_meta")).deleteRecursively()
    assert(cat.write(df, "feat", "K", "ts_us"))
    val data = new java.io.File(s"$root/feat/K/data")
    val blocks = data.listFiles().filter(_.getName.startsWith("block="))
    assert(blocks.length == 1)
    val subdirs = blocks(0).listFiles().filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(subdirs == Seq("day=2024-01-01", "day=2024-01-02", "day=2024-01-03"), subdirs)
    assert(cat.scanAll("feat", "K").count() == 50L)
  }

  test("compaction reads a group in one scan: 2 and 6 members run the same jobs") {
    def jobsToCompact(members: Int): Int = {
      val cat = new BlockCatalog(spark, Files.createTempDirectory("graft_onescan").toString)
      (0 until members).foreach { g =>
        val b = (0 until 3).map(i => (day0 + (g * 3 + i) * 3600000000L, (g * 3 + i).toDouble))
        assert(cat.write(b.toDF("ts_us", "v"), "t", "K", "ts_us"))
      }
      val group = s"graft_compact_$members"
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
            jobs.incrementAndGet()
      }
      val sc = spark.sparkContext
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup(group, group)
        try assert(cat.compactSmallBlocks("t", "K", targetRows = Long.MaxValue) == 1)
        finally sc.clearJobGroup()
        // the listener bus delivers asynchronously; drain it first
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      } finally sc.removeSparkListener(listener)
      assert(cat.scanAll("t", "K").count() == members * 3L)
      jobs.get
    }
    val (two, six) = (jobsToCompact(2), jobsToCompact(6))
    assert(two == six, s"2 members: $two jobs, 6 members: $six jobs")
  }
}
