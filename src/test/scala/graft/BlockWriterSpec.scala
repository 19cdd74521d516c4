package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.BlockCatalog
import graft.streaming.{BlockWriter, Streaming}

class BlockWriterSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  test("foreachBatch block sink: micro-batches land as cataloged blocks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("graft_bw").toString
    val cat = new BlockCatalog(spark, root)
    val day0 = 1704067200000000L

    val input = MemoryStream[(Long, Double)]
    val q = BlockWriter.start(
      input.toDS().toDF("ts_us", "v"), cat, "feat", "K", "ts_us",
      triggerMs = 0L)
    try {
      input.addData((day0, 1.0), (day0 + 1000000L, 2.0))
      q.processAllAvailable()
      input.addData((day0 + 2000000L, 3.0))
      q.processAllAvailable()
      assert(cat.meta.count() == 2) // one block per non-empty micro-batch
      val all = cat.scan("feat", "K", day0, day0 + 3000000L)
      assert(all.count() == 3)
    } finally q.stop()
  }

  test("flush-per-batch sink runs a stateful upstream once: dedup drops each re-send once") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    implicit val sqlCtx = spark.sqlContext
    val cat = new BlockCatalog(spark,
      Files.createTempDirectory("graft_bw_dedup").toString)
    val day0 = 1704067200000000L
    val input = MemoryStream[(Long, String)]
    val deduped = Streaming.exactDedupStream(input.toDS().toDF("ts_us", "text"),
      col("text"), timestamp_micros(col("ts_us")), "1 hour")
    val q = BlockWriter.start(deduped, cat, "feat", "K", "ts_us", triggerMs = 0L)
    try {
      // 3 planted re-sends: one inside the first trigger, two across
      input.addData((day0, "a"), (day0 + 1L, "b"), (day0 + 2L, "a"), (day0 + 3L, "c"))
      q.processAllAvailable()
      input.addData((day0 + 4L, "b"), (day0 + 5L, "c"), (day0 + 6L, "d"))
      q.processAllAvailable()
      val dropped = q.recentProgress.flatMap(_.stateOperators)
        .map(_.customMetrics.get("numDroppedDuplicateRows").longValue).sum
      assert(dropped == 3L)
      assert(cat.scanAll("feat", "K").select("ts_us", "text").as[(Long, String)].collect().map(_._2).sorted
        .toSeq == Seq("a", "b", "c", "d"))
    } finally q.stop()
  }

  test("restart on the same checkpoint: the catalog holds exactly the uninterrupted run's rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val day0 = 1704067200000000L
    val batches = (0 until 3).map(b =>
      (0 until 4).map(i => (day0 + (b * 4 + i) * 1000000L, (b * 4 + i).toDouble)))
    def rows(cat: BlockCatalog) =
      cat.scanAll("feat", "K").select("ts_us", "v").as[(Long, Double)].collect().sorted.toSeq

    val whole = new BlockCatalog(spark, Files.createTempDirectory("graft_bw_whole").toString)
    val in0 = MemoryStream[(Long, Double)]
    val q0 = BlockWriter.start(in0.toDS().toDF("ts_us", "v"), whole, "feat", "K",
      "ts_us", triggerMs = 0L)
    try batches.foreach { b => in0.addData(b); q0.processAllAvailable() }
    finally q0.stop()

    val base = Files.createTempDirectory("graft_bw_restart")
    val ckpt = base.resolve("ckpt")
    val cat = new BlockCatalog(spark, base.resolve("cat").toString)
    val input = MemoryStream[(Long, Double)]
    def start() = BlockWriter.start(input.toDS().toDF("ts_us", "v"), cat, "feat", "K",
      "ts_us", triggerMs = 0L, checkpoint = Some(ckpt.toString))
    val q1 = start()
    try batches.take(2).foreach { b => input.addData(b); q1.processAllAvailable() }
    finally q1.stop() // stop after batch 1
    // and as if the stop came between batch 1's sink write and its
    // commit: the restart replays batch 1 into the catalog
    Files.delete(ckpt.resolve("commits/1"))
    Files.deleteIfExists(ckpt.resolve("commits/.1.crc"))
    val q2 = start()
    try { input.addData(batches(2)); q2.processAllAvailable() }
    finally q2.stop()
    assert(rows(cat) == rows(whole))
    assert(rows(cat).size == 12)
    assert(cat.meta.count() == 3) // the replayed batch was skipped by hash
  }
}
