package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.L2Book
import graft.operators.L2Book.{Update => U}
import graft.streaming.Streaming

/** Batch ≡ stream parity (SURVEY.md §2.9 Kappa contract): the same
  * transform over `read` and `readStream` of the same data must agree.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  test("windowed agg: batch and streaming replay produce identical rows") {
    val batch = Streaming.windowedAgg(Tables.events(spark, dir))
      .collect().map(_.toSeq).toSet

    val q = Streaming.windowedAgg(Streaming.eventsStream(spark, dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("parity_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("parity_out").collect().map(_.toSeq).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("custom replay source: rate-controlled micro-batches, agg parity, subscription") {
    import org.apache.spark.sql.functions.col
    // same transform as the file-source parity test, but through the
    // DSv2 EventReplayProvider (S6 live-feed interface parity): offset
    // tracking + rowsPerBatch rate control drive multiple triggers.
    val batch = Streaming.windowedAgg(Tables.events(spark, dir))
      .collect().map(_.toSeq).toSet
    val src = spark.readStream
      .format("graft.sources.EventReplayProvider")
      .option("path", dir)
      .option("rowsPerBatch", 300)
      .load()
    val q = Streaming.windowedAgg(src)
      .writeStream.outputMode("complete")
      .format("memory").queryName("replay_parity_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("replay_parity_out").collect().map(_.toSeq).toSet
      assert(streamed == batch)
      // 1000 events / 300 per trigger -> at least 4 planned batches
      assert(q.lastProgress.batchId >= 3,
        s"rate control should split the replay, got batchId=${q.lastProgress.batchId}")
    } finally q.stop()

    // subscription surface: eventTypes narrows the feed like the
    // reference emitter's channel binding
    val nPurchase = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase").count()
    val sub = spark.readStream
      .format("graft.sources.EventReplayProvider")
      .option("path", dir)
      .option("eventTypes", "purchase")
      .load()
    val q2 = sub.writeStream.outputMode("append")
      .format("memory").queryName("replay_sub_out").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("replay_sub_out").count() == nPurchase)
      assert(spark.table("replay_sub_out")
        .select("event_type").distinct().collect().map(_.getString(0)).toSeq
        == Seq("purchase"))
    } finally q2.stop()
  }

  test("custom replay source: Trigger.AvailableNow drains the WHOLE feed") {
    // SupportsTriggerAvailableNow admission control: an AvailableNow
    // run must replay every row in rate-limited micro-batches, not
    // stop at the first latestOffset (the pre-round-5 behavior).
    val total = Tables.events(spark, dir).count()
    val src = spark.readStream
      .format("graft.sources.EventReplayProvider")
      .option("path", dir)
      .option("rowsPerBatch", 300)
      .load()
    val q = src.writeStream.outputMode("append")
      .format("memory").queryName("replay_avnow_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination()
      assert(spark.table("replay_avnow_out").count() == total)
      // 1000 rows / 300 per trigger -> at least 4 batches ran
      assert(q.lastProgress.batchId >= 3,
        s"AvailableNow should still rate-limit, got batchId=${q.lastProgress.batchId}")
    } finally q.stop()
  }

  test("custom replay source: `columns` narrows the feed schema, values intact") {
    // r17 field-selection knob: streaming scans get no Catalyst column
    // pruning, so the source narrows its OWN schema — verify both the
    // schema and value parity against the full-width feed
    import org.apache.spark.sql.functions.col
    val full = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
      .collect().map(_.toSeq).toSet
    val src = spark.readStream
      .format("graft.sources.EventReplayProvider")
      .option("path", dir)
      .option("columns", "event_id,event_type,value")
      .load()
    assert(src.schema.fieldNames.toSeq == Seq("event_id", "event_type", "value"))
    val q = src.writeStream.outputMode("append")
      .format("memory").queryName("replay_cols_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("replay_cols_out").collect().map(_.toSeq).toSet
      assert(streamed == full)
    } finally q.stop()
    // unknown column names fail loudly, not silently
    intercept[Exception] {
      spark.readStream.format("graft.sources.EventReplayProvider")
        .option("path", dir).option("columns", "event_id,nope").load()
    }
  }

  test("corpusStateShards: input-derived, floored, capped at the session setting") {
    // tiny input -> the floor; huge target-relative input -> clamp to
    // Int range (the drain's Sessions.withConfs scope applies the
    // session cap); missing path
    // -> None (keep the session default)
    val p = s"$dir/documents.parquet"
    assert(Streaming.corpusStateShards(spark, p) == Some(8))
    assert(Streaming.corpusStateShards(spark, p,
      targetBytesPerShard = 1L, floor = 2).exists(_ > 1000))
    assert(Streaming.corpusStateShards(spark, "/nonexistent/path").isEmpty)
  }

  test("streaming exact dedup: first writer wins across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    val t0 = 1704067200000000L
    val input = MemoryStream[(Long, Long, String)]
    val dedup = Streaming.exactDedupStream(
      input.toDS().toDF("doc_id", "ts_us", "text"),
      col("text"), timestamp_micros(col("ts_us")), "1 hour")
    val q = dedup.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      input.addData((1L, t0, "alpha"), (2L, t0 + 1, "beta"), (3L, t0 + 2, "alpha"))
      q.processAllAvailable()
      // duplicate in a LATER batch is also dropped (cross-batch state)
      input.addData((4L, t0 + 3, "alpha"), (5L, t0 + 4, "gamma"))
      q.processAllAvailable()
      val kept = spark.table("dedup_out").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(kept == Set(1L, 2L, 5L))
    } finally q.stop()
  }

  test("streaming passage keep-list: keeper crosses the batch line, order-independent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(Long, String)]
    val q = Streaming.paragraphKeepListStream(
        input.toDS().toDF("doc_id", "text"),
        col("text"), col("doc_id"), size = 2)
      .writeStream.outputMode("complete")
      .format("memory").queryName("para_keep_out").start()
    try {
      // doc 7 arrives FIRST but has the larger id; the keeper of
      // "a b" must still be (5, 0) once doc 5 lands in a later batch
      input.addData((7L, "a b c d"))
      q.processAllAvailable()
      input.addData((5L, "a b x y"))
      q.processAllAvailable()
      val out = spark.table("para_keep_out")
        .select("keep_doc_id", "keep_idx", "n_copies").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(out == Map(
        (5L, 0L) -> 2L,  // "a b": both docs, min key wins
        (7L, 1L) -> 1L,  // "c d"
        (5L, 1L) -> 1L)) // "x y"
    } finally q.stop()
  }

  test("streaming shingle owners: min owner crosses the batch line both ways") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{col, xxhash64, lit}
    val input = MemoryStream[(Long, String)]
    val q = Streaming.shingleOwnerStream(
        input.toDS().toDF("doc_id", "text"),
        col("text"), col("doc_id"), n = 3)
      .writeStream.outputMode("complete")
      .format("memory").queryName("shingle_own_out").start()
    try {
      // doc 9 arrives FIRST; when doc 4 lands later with the same
      // trigram, the owner must flip to min(doc_id) = 4 — the batch
      // noveltyProfile rule, independent of arrival order
      input.addData((9L, "alpha bravo charlie"))
      q.processAllAvailable()
      input.addData((4L, "alpha bravo charlie delta"))
      q.processAllAvailable()
      val h = spark.range(1)
        .select(xxhash64(lit("alpha bravo charlie"))).collect()(0).getLong(0)
      val out = spark.table("shingle_own_out").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(out(h) == ((4L, 2L))) // owner flipped, both occurrences counted
      assert(out.size == 2) // + "bravo charlie delta"
    } finally q.stop()
  }

  test("streaming boilerplate df: capped distinct count crosses batches, dups don't inflate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(Long, String)]
    val q = Streaming.boilerplateDfStream(
        input.toDS().toDF("doc_id", "text"),
        col("text"), col("doc_id"), size = 2, minDf = 2)
      .writeStream.outputMode("complete")
      .format("memory").queryName("boiler_df_out").start()
    try {
      // "a b" twice in ONE doc: distinct df stays 1
      input.addData((9L, "a b a b"))
      q.processAllAvailable()
      input.addData((5L, "a b x y"), (6L, "a b"))
      q.processAllAvailable()
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest("a b".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val out = spark.table("boiler_df_out").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // saturates at cap=2 even though 3 distinct docs carry "a b",
      // and doc 9's in-doc repetition contributed only one distinct
      assert(out(digest) == 2L)
      assert(out.values.forall(_ <= 2L))
      // the only other passage is "x y" at df 1
      assert(out.size == 2 && out.count(_._2 == 1L) == 1)
    } finally q.stop()
  }

  test("streaming anomaly flags: window state crosses the batch line") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.CentsEvent]
    val q = Streaming.anomalyExactStream(input.toDS(), rangeUnits = 100L, z = 2)
      .writeStream.outputMode("append")
      .format("memory").queryName("anom_out").start()
    try {
      // batch 1: a stable window of 100-cent values
      input.addData((1L to 6L).map(i =>
        Streaming.CentsEvent("k", i * 10, i, 100L)): _*)
      q.processAllAvailable()
      // batch 2: an outlier — the window STATE from batch 1 must make
      // it anomalous (n=7, s=1400, ss=700000: dev=4200;
      // 4200^2=17.64M > 4*(7*700000-1400^2)=11.76M)
      input.addData(Streaming.CentsEvent("k", 70, 7L, 800L))
      q.processAllAvailable()
      // and far in the future, the window has evicted everything: a
      // lone value is its own window (n=1, dev=0 -> not anomalous)
      input.addData(Streaming.CentsEvent("k", 500, 8L, 800L))
      q.processAllAvailable()
      val out = spark.table("anom_out").collect()
        .map(r => r.getLong(2) -> ((r.getLong(3), r.getInt(4)))).toMap
      assert(out(7L)._2 == 1, s"outlier not flagged: ${out(7L)}")
      assert(out(7L)._1 == 7L)
      assert(out(8L) == ((1L, 0)))
      assert((1L to 6L).forall(out(_)._2 == 0))
    } finally q.stop()
  }

  test("streaming anomaly flags: okey regression across batches fails loud") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streaming.CentsEvent]
    val q = Streaming.anomalyExactStream(input.toDS(), rangeUnits = 100L, z = 2)
      .writeStream.outputMode("append")
      .format("memory").queryName("anom_reg_out").start()
    try {
      input.addData(Streaming.CentsEvent("k", 50, 1L, 100L))
      q.processAllAvailable()
      // batch 2 regresses below state's max okey (50): the monotone
      // precondition is violated — the query must DIE with the named
      // guard, not emit silently-wrong flags from a mis-evicted deque
      input.addData(Streaming.CentsEvent("k", 40, 2L, 100L))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def chain(t: Throwable): List[Throwable] =
        if (t == null) Nil else t :: chain(t.getCause)
      assert(chain(ex).exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("okey regression")),
        s"expected the okey-regression guard, got: ${ex.getMessage}")
    } finally q.stop()
  }

  test("streaming word counts: counters accumulate across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(Long, String)]
    val q = Streaming.vocabCountStream(
        input.toDS().toDF("doc_id", "text"), col("text"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("vocab_cnt_out").start()
    try {
      input.addData((1L, "a b a"))
      q.processAllAvailable()
      input.addData((2L, "b C c"))
      q.processAllAvailable()
      val out = spark.table("vocab_cnt_out").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // "a"x2 from batch 1; "b" spans batches; "C" folds to "c"
      assert(out == Map("a" -> 2L, "b" -> 2L, "c" -> 2L))
    } finally q.stop()
  }

  test("streaming minhash near-dup dedup == batch LSH pairs (cross-batch)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.operators.Dedup
    import graft.streaming.Streaming.DocEvent
    val t0 = 1704067200000000L

    // real documents (seeded near-dups), arrival order = id order
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").orderBy("doc_id").limit(120).collect()
      .zipWithIndex.map { case (r, i) =>
        DocEvent(r.getLong(0), t0 + i * 1000000L, r.getString(1))
      }
    val batchDf = docs.toSeq.toDF("doc_id", "ts_us", "text")

    // batch oracle: a doc is dropped iff it is the LARGER id of any
    // minhashLshPairs pair (a_id < b_id by construction)
    val sigs = Dedup.minhashSignatures(batchDf, col("text"), col("doc_id"), 32)
    val dropped = Dedup.minhashLshPairs(sigs, 32, 16, 0.6)
      .select("b_id").collect().map(_.getLong(0)).toSet
    assert(dropped.nonEmpty, "fixture must contain seeded near-dups")

    val input = MemoryStream[DocEvent]
    val q = Streaming.minhashDedupStream(input.toDS(), 32, 16, 0.6,
        watermarkDelayMs = 365L * 24 * 3600 * 1000)
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_out").start()
    try {
      val (b1, b2) = docs.splitAt(60) // near-dups straddle the split
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      val verdicts = spark.table("neardup_out")
      val streamedDropped = Streaming.collapseNearDupVerdicts(verdicts)
        .filter(col("dup_of").isNotNull)
        .select("docId").collect().map(_.getLong(0)).toSet
      assert(streamedDropped == dropped,
        s"stream-only: ${streamedDropped -- dropped}, batch-only: ${dropped -- streamedDropped}")
    } finally q.stop()
  }

  test("streaming simhash near-dup dedup == batch simhashPairs (cross-batch)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.operators.Dedup
    import graft.streaming.Streaming.DocEvent
    val t0 = 1704067200000000L
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").orderBy("doc_id").limit(120).collect()
      .zipWithIndex.map { case (r, i) =>
        DocEvent(r.getLong(0), t0 + i * 1000000L, r.getString(1))
      }
    val batchDf = docs.toSeq.toDF("doc_id", "ts_us", "text")
    val sigs = Dedup.simhash(batchDf, col("text"), col("doc_id"))
    val dropped = Dedup.simhashPairs(sigs, 6)
      .select("b_id").collect().map(_.getLong(0)).toSet
    assert(dropped.nonEmpty, "fixture must contain seeded simhash near-dups")

    val input = MemoryStream[DocEvent]
    val q = Streaming.simhashDedupStream(input.toDS(), maxDist = 6,
        watermarkDelayMs = 365L * 24 * 3600 * 1000)
      .writeStream.outputMode("append")
      .format("memory").queryName("simdup_out").start()
    try {
      val (b1, b2) = docs.splitAt(60)
      input.addData(b1.toIndexedSeq: _*)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq: _*)
      q.processAllAvailable()
      val streamedDropped = Streaming.collapseNearDupVerdicts(
          spark.table("simdup_out"))
        .filter(col("dup_of").isNotNull)
        .select("docId").collect().map(_.getLong(0)).toSet
      assert(streamedDropped == dropped,
        s"stream-only: ${streamedDropped -- dropped}, batch-only: ${dropped -- streamedDropped}")
    } finally q.stop()
  }

  test("streaming hash dedup (perceptual leg): batch pair parity across the batch line") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.operators.Multimodal
    // the mm_phash_dups corpus rule over 60 ids, image decode + dHash
    // BEFORE the stream (the caller-side contract of hashDedupStream)
    def hashOf(id: Long): Long = {
      val gid = id / 2
      val pcell =
        if (id % 2 == 1 && gid % 5 == 0)
          Some(((gid % 8).toInt, (gid % 9).toInt))
        else None
      val px = Multimodal.synthGrayImage(gid, 19, 17, pcell)
      val p = Multimodal.decodePng(Multimodal.encodePng(19, 17, px))
      Multimodal.dhash64(p.width, p.height, p.pixels)
    }
    val rows = (0L until 60L).map(id => (id, (id + 1) * 1000000L, hashOf(id)))
    // batch expectation: min matching a_id per b_id over ALL pairs
    val expect = (for {
      b <- rows; a <- rows if a._1 < b._1 &&
        java.lang.Long.bitCount(a._3 ^ b._3) <= 3
    } yield (b._1, a._1)).groupBy(_._1).map { case (b, as) =>
      b -> as.map(_._2).min
    }
    assert(expect.nonEmpty, "fixture must contain planted near-dups")
    val input = MemoryStream[(Long, Long, Long)]
    val q = Streaming.hashDedupStream(input.toDS(), maxDist = 3,
        watermarkDelayMs = 365L * 24 * 3600 * 1000)
      .writeStream.outputMode("append")
      .format("memory").queryName("hashdup_out").start()
    try {
      // the twin pair (2g, 2g+1) straddles the batch line at id 31
      input.addData(rows.take(31): _*)
      q.processAllAvailable()
      input.addData(rows.drop(31): _*)
      q.processAllAvailable()
      val got = Streaming.collapseNearDupVerdicts(spark.table("hashdup_out"))
        .filter(col("dup_of").isNotNull)
        .select("docId", "dup_of").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect,
        s"stream-only: ${got.toSet -- expect.toSet}, batch-only: ${expect.toSet -- got.toSet}")
    } finally q.stop()
  }

  test("streaming video dedup == batch keyframe rollup (cross-batch)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the mm_video_dups corpus over 40 clips: keyframes extracted by
    // the SAME rule as the batch query (decode + dHash + lag), batch
    // expectation computed from all packed pairs
    val vids = 0L until 40L
    val kf = vids.map(v =>
      v -> graft.queries.MultimodalQueries.videoKeyframeHashes(v)).toMap
    val packed = vids.flatMap(kf(_))
    val expect: Map[Long, Long] = (for {
      (pa, ha) <- packed; (pb, hb) <- packed
      if pa < pb && pa / 16 != pb / 16 &&
        java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (pa / 16, pb / 16))
      .groupBy(identity).collect { case ((a, b), hits) if hits.size >= 2 =>
        (b, a)
      }
      .groupBy(_._1).map { case (b, as) => b -> as.map(_._2).min }
    assert(expect.nonEmpty, "fixture has no re-edited twins")

    val input = MemoryStream[(Long, Long, Long)]
    val q = Streaming.hashMatchStream(input.toDS(), maxDist = 3,
        watermarkDelayMs = 365L * 24 * 3600 * 1000)
      .toDF("docId", "tsUs", "bidx", "matched")
      .writeStream.outputMode("append")
      .format("memory").queryName("vidmatch_out").start()
    try {
      val rows = vids.flatMap(v =>
        kf(v).map { case (pid, h) => (pid, (v + 1) * 1000000L, h) })
      // twin pair (20, 21) straddles the trigger line
      val (b1, b2) = rows.partition(_._1 / 16 <= 20)
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
      val got = Streaming.collapseVideoDupVerdicts(spark.table("vidmatch_out"))
        .collect()
        .flatMap(r => if (r.isNullAt(1)) None
                      else Some(r.getLong(0) -> r.getLong(1))).toMap
      assert(got == expect,
        s"stream-only: ${got.toSet -- expect.toSet}, batch-only: ${expect.toSet -- got.toSet}")
    } finally q.stop()
  }

  test("streaming incremental hash dedup == batch (cross-batch + stored-index join)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    // deterministic splitmix-style signature per id, with planted
    // cross-side and cross-trigger near-dups; expectation is the BATCH
    // operator (pure parity — accidental near collisions land in both)
    def mix(id: Long): Long = {
      var z = id + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val idxIds = 0L until 30L
    val batchIds = 30L until 100L
    val sig = scala.collection.mutable.Map[Long, Long]()
    (idxIds ++ batchIds).foreach(i => sig(i) = mix(i))
    sig(60L) = sig(5L) // exact index dup
    sig(50L) = sig(10L) ^ 3L // 2-bit index near-dup
    sig(71L) = sig(45L) ^ 1L // batch near-dup STRADDLING the trigger line
    sig(66L) = sig(65L) ^ (1L << 40) // in-trigger batch near-dup
    val idxSigs = idxIds.map(i => (i, sig(i))).toDF("doc_id", "simhash")
    val batchSigs = batchIds.map(i => (i, sig(i))).toDF("doc_id", "simhash")
    val expect = Dedup.incrementalNearDupHashes(batchSigs, idxSigs, maxDist = 3)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3))).toSet
    assert(expect.exists(_._2), "fixture planted no index dup")
    assert(expect.exists(_._3), "fixture planted no batch dup")

    val indexChunks = Dedup.simhashChunks(idxSigs, maxDist = 3)
    val input = MemoryStream[(Long, Long, Long)]
    val got = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Boolean, Boolean, Boolean)]
    val q = Streaming.hashDedupIncrementalVerdicts(input.toDS(), maxDist = 3,
        watermarkDelayMs = 365L * 24 * 3600 * 1000)
      .toDF("docId", "tsUs", "bidx", "matchedId", "sig")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = Streaming.incrementalBatchFold(b, indexChunks, maxDist = 3)
          .collect()
          .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
            r.getBoolean(3)))
        got.synchronized { got ++= rows }
        ()
      }
      .start()
    try {
      val rows = batchIds.map(i => (i, (i + 1) * 1000000L, sig(i)))
      val (b1, b2) = rows.splitAt(40) // 30..69 | 70..99: 45~71 straddles
      input.addData(b1: _*)
      q.processAllAvailable()
      input.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(got.size == batchIds.size, "one verdict per arriving doc")
    assert(got.toSet == expect,
      s"stream-only: ${got.toSet -- expect}, batch-only: ${expect -- got.toSet}")
  }

  test("slicing law above the cap: uncapped stream ⊇ capped batch on batch-earlier dups") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.operators.Dedup
    // 60 docs sharing ONE signature — every band bucket holds 60 rows,
    // far over the batch operator's maxBucket=8, so its md5-threshold
    // keep subsamples the bucket and flags only pairs among kept rows;
    // the stream's fMGWS state (uncapped default) is exact. The
    // documented direction (hashDedupStream scaladoc, SCALE.md r14):
    // stream verdicts are a SUPERSET of the capped batch's — capped
    // recall is a lower bound, flagged dups are real either way.
    val ids = 100L until 160L
    val sigs = ids.map(i => (i, 0xDEADBEEFL)).toDF("doc_id", "simhash")
    val emptyIdx = Seq.empty[(Long, Long)].toDF("doc_id", "simhash")
    val batchDup = Dedup.incrementalNearDupHashes(sigs, emptyIdx,
        maxDist = 3, maxBucket = 8)
      .filter(col("dup_of_batch_earlier"))
      .collect().map(_.getLong(0)).toSet
    assert(batchDup.nonEmpty && batchDup.size < ids.size - 1,
      s"cap must actually subsample (flagged ${batchDup.size} of 59)")
    val input = MemoryStream[(Long, Long, Long)]
    val q = Streaming.hashDedupStream(input.toDS(), maxDist = 3,
        watermarkDelayMs = 365L * 24 * 3600 * 1000)
      .writeStream.outputMode("append")
      .format("memory").queryName("slicing_law_out").start()
    val streamDup = try {
      input.addData(ids.map(i => (i, (i + 1) * 1000000L, 0xDEADBEEFL)): _*)
      q.processAllAvailable()
      Streaming.collapseNearDupVerdicts(spark.table("slicing_law_out"))
        .filter(col("dup_of").isNotNull)
        .select("docId").collect().map(_.getLong(0)).toSet
    } finally q.stop()
    assert(streamDup == ids.drop(1).toSet,
      "uncapped stream state must flag every doc but the first")
    assert(batchDup.subsetOf(streamDup),
      s"documented direction violated: batch-only ${batchDup -- streamDup}")
  }

  test("hashDedupIncrementalStream default: RocksDB state actually used, conf restored") {
    import spark.implicits._
    import graft.operators.Dedup
    val StoreKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(StoreKey)
    // a file-backed two-doc stream through the DEFAULT-parameter path
    val stage = java.nio.file.Files.createTempDirectory("graft_rocks_spec_")
    val tmpOut = stage.resolve("w")
    Seq(1L, 2L).toDF("doc_id").coalesce(1)
      .write.parquet(tmpOut.toString)
    val arrivals = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType))))
      .parquet(tmpOut.toString)
      .as[Long].map(id => (id, (id + 1) * 1000000L, 0x1234L))
    val idxChunks = Dedup.simhashChunks(
      Seq((0L, 0x1234L)).toDF("doc_id", "simhash"), maxDist = 3)
    // snapshot the tmp root before, to find THIS run's drain dir
    import scala.jdk.CollectionConverters._
    def incrDirs: Set[java.nio.file.Path] = {
      val st = java.nio.file.Files.list(
        java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
      try st.iterator().asScala.filter(
        _.getFileName.toString.startsWith("graft_incr_stream_")).toSet
      finally st.close()
    }
    val before = incrDirs
    val out = Streaming.hashDedupIncrementalStream(arrivals, maxDist = 3,
      watermarkDelayMs = 365L * 24 * 3600 * 1000, indexChunks = idxChunks)
    assert(out.count() == 2L)
    // the provider ACTUALLY USED: RocksDB checkpoints its state as
    // .zip snapshots / .changelog files; the default HDFS-backed store
    // writes .delta/.snapshot — assert the artifacts, not just a conf
    val fresh = (incrDirs -- before).toSeq
    assert(fresh.size == 1, s"expected one new drain dir, got $fresh")
    val stateDir = fresh.head.resolve("ckpt").resolve("state")
    val st = java.nio.file.Files.walk(stateDir)
    val names = try st.iterator().asScala.map(_.getFileName.toString).toSeq
      finally st.close()
    assert(names.exists(n => n.endsWith(".zip") || n.endsWith(".changelog")),
      s"no RocksDB state artifacts under $stateDir: $names")
    assert(!names.exists(_.endsWith(".delta")),
      "HDFS-backed state artifacts found — default did not route to RocksDB")
    // session conf restored after the drain
    assert(spark.conf.getOption(StoreKey) == prev,
      "Sessions.withConfs must restore the previous provider conf")
  }

  test("hashDedupMaintStream: in-loop appends promote later-trigger matches to dup_of_index") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.Dedup
    // hand-sized cross-trigger fixture: index doc 0; trigger 1 brings
    // a fresh KEEPER (10) and an index dup (11 == sig of 0); trigger 2
    // brings 20 == sig of 10 (matches ONLY the trigger-1 keeper) and
    // 21, a fresh survivor. Expected: 20 is dup_of_index (via the
    // in-loop append of 10's chunks) AND dup_of_batch_earlier (via the
    // cross-trigger band state); without the append it would carry
    // only the batch-earlier flag.
    def sig(i: Long): Long = {
      var z = i + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val idxSigs = Seq((0L, sig(0))).toDF("doc_id", "simhash")
    val table = "graft_maint_spec_idx"
    val root = java.nio.file.Files.createTempDirectory("graft_maint_spec_")
    Streaming.sweepOnExit(root)
    graft.sources.BucketedStore.write(
      Dedup.simhashChunks(idxSigs, maxDist = 3), table,
      root.resolve("idx").toString, Seq("cidx", "cval"), buckets = 4)
    // two staged arrival files = two pinned triggers
    val b1 = Seq((10L, sig(10)), (11L, sig(0)))
    val b2 = Seq((20L, sig(10)), (21L, sig(21)))
    Seq(("t0", b1), ("t1", b2)).zipWithIndex.foreach { case ((_, rows), i) =>
      val tmp = root.resolve(s"w$i")
      rows.toDF("doc_id", "simhash").coalesce(1)
        .write.parquet(tmp.toString)
      val listing = java.nio.file.Files.list(tmp)
      var src: java.nio.file.Path = null
      try {
        val part = listing.iterator()
        while (part.hasNext) {
          val p = part.next()
          if (p.getFileName.toString.endsWith(".parquet")) src = p
        }
      } finally listing.close() // taking only the iterator leaks the dir fd
      val dest = root.resolve("stage").resolve(f"b$i%02d.parquet")
      java.nio.file.Files.createDirectories(dest.getParent)
      java.nio.file.Files.move(src, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(
          1700000000000L + i * 10000L))
    }
    try {
      val arrivals = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("simhash",
            org.apache.spark.sql.types.LongType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(root.resolve("stage").toString)
        .as[(Long, Long)]
        .map { case (id, h) => (id, (id + 1) * 1000000L, h) }
      val out = Streaming.hashDedupMaintStream(arrivals, maxDist = 3,
          watermarkDelayMs = 365L * 24 * 3600 * 1000, indexTable = table)
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
      assert(out == Map(
        10L -> ((false, false, true)),  // fresh keeper
        11L -> ((true, false, false)),  // dup of the ORIGINAL index
        // the load-bearing row: matched the trigger-1 keeper in BOTH
        // the appended index and the cross-trigger band state
        20L -> ((true, true, false)),
        21L -> ((false, false, true))), s"got $out")
      // and the keepers of BOTH triggers were appended: the final
      // index knows sig(10), sig(21) and the original sig(0)
      val idxNow = graft.sources.BucketedStore.read(spark, table)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(idxNow == Set(0L, 10L, 21L), s"index docs: $idxNow")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("hashDedupMaintStream self-compacting: mid-drain compaction fires, verdicts unchanged, superseded dirs vacuumed") {
    import spark.implicits._
    import graft.operators.Dedup
    // the cross-trigger fixture of the plain maint-stream spec, run
    // with compactAtFilesPerBucket = Some(0): compactIfFragmented must
    // FIRE after each trigger's append (threshold 0 = any file trips
    // it), verdicts must be byte-identical to the uncompacted run's
    // expectations, and drain end must vacuum every superseded dir
    def sig(i: Long): Long = {
      var z = i + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val idxSigs = Seq((0L, sig(0))).toDF("doc_id", "simhash")
    val table = "graft_maintc_spec_idx"
    val root = java.nio.file.Files.createTempDirectory("graft_maintc_spec_")
    Streaming.sweepOnExit(root)
    val origPath = root.resolve("idx").toString
    graft.sources.BucketedStore.write(
      Dedup.simhashChunks(idxSigs, maxDist = 3), table,
      origPath, Seq("cidx", "cval"), buckets = 4)
    val b1 = Seq((10L, sig(10)), (11L, sig(0)))
    val b2 = Seq((20L, sig(10)), (21L, sig(21)))
    Seq(b1, b2).zipWithIndex.foreach { case (rows, i) =>
      val tmp = root.resolve(s"w$i")
      rows.toDF("doc_id", "simhash").coalesce(1)
        .write.parquet(tmp.toString)
      val listing = java.nio.file.Files.list(tmp)
      var src: java.nio.file.Path = null
      try {
        val part = listing.iterator()
        while (part.hasNext) {
          val p = part.next()
          if (p.getFileName.toString.endsWith(".parquet")) src = p
        }
      } finally listing.close()
      val dest = root.resolve("stage").resolve(f"b$i%02d.parquet")
      java.nio.file.Files.createDirectories(dest.getParent)
      java.nio.file.Files.move(src, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(
          1700000000000L + i * 10000L))
    }
    try {
      val arrivals = spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("simhash",
            org.apache.spark.sql.types.LongType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(root.resolve("stage").toString)
        .as[(Long, Long)]
        .map { case (id, h) => (id, (id + 1) * 1000000L, h) }
      val out = Streaming.hashDedupMaintStream(arrivals, maxDist = 3,
          watermarkDelayMs = 365L * 24 * 3600 * 1000, indexTable = table,
          compactAtFilesPerBucket = Some(0))
        .collect()
        .map(r => r.getLong(0) ->
          ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
      // verdicts identical to the uncompacted drain — in-loop rewrites
      // are invisible to every fold
      assert(out == Map(
        10L -> ((false, false, true)),
        11L -> ((true, false, false)),
        20L -> ((true, true, false)),
        21L -> ((false, false, true))), s"got $out")
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
      // the compaction FIRED mid-drain: the catalog now points at a
      // _compact_ sibling, not the original write location
      assert(meta.location.toString.contains("_compact_"),
        s"compaction never fired: table still at ${meta.location}")
      // drain-end vacuum: superseded record cleared AND the original
      // (first-superseded) directory reclaimed
      assert(!meta.properties.contains(
        graft.sources.BucketedStore.SupersededProp),
        "drain end must vacuum the superseded-locations record")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(origPath)),
        "drain end must reclaim the original index directory")
      // index content unchanged by compaction: keepers of both
      // triggers + the original doc
      val idxNow = graft.sources.BucketedStore.read(spark, table)
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(idxNow == Set(0L, 10L, 21L), s"index docs: $idxNow")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("streaming minhash dedup hot-bucket cap: bounded state still flags dups") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.streaming.Streaming.DocEvent
    val t0 = 1704067200000000L
    val text = "one repeated boilerplate chunk that floods a single bucket"
    val docs = (1 to 50).map(i => DocEvent(i, t0 + i * 1000L, text))
    val input = MemoryStream[DocEvent]
    val q = Streaming.minhashDedupStream(input.toDS(), 32, 16, 0.6,
        watermarkDelayMs = 3600 * 1000, maxBucket = 5)
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_cap_out").start()
    try {
      input.addData(docs.take(25): _*)
      q.processAllAvailable()
      input.addData(docs.drop(25): _*)
      q.processAllAvailable()
      val dropped = Streaming.collapseNearDupVerdicts(spark.table("neardup_cap_out"))
        .filter(col("dup_of").isNotNull)
        .select("docId").collect().map(_.getLong(0)).toSet
      // every doc but the first writer is flagged, against <=5 retained
      // signatures per band bucket
      assert(dropped == (2 to 50).map(_.toLong).toSet)
    } finally q.stop()
  }

  test("streaming minhash dedup evicts state past the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.streaming.Streaming.DocEvent
    val t0 = 1704067200000000L
    val H = 3600000000L
    val text = "the quick brown fox jumps over the lazy dog again"
    val input = MemoryStream[DocEvent]
    val q = Streaming.minhashDedupStream(input.toDS(), 32, 16, 0.6,
        watermarkDelayMs = 3600 * 1000) // 1h window
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_evict_out").start()
    try {
      // batch 1: original + immediate duplicate -> dup detected
      input.addData(DocEvent(1, t0, text), DocEvent(2, t0 + 1000000L, text))
      q.processAllAvailable()
      // batch 2: unrelated doc 10h later advances the watermark to ~9h
      input.addData(DocEvent(3, t0 + 10 * H,
        "completely different words about structured streaming state"))
      q.processAllAvailable()
      // batch 3: same text again, far past the watermark window — the
      // bucket state for doc 1/2 is pruned, so it re-emits as a survivor
      input.addData(DocEvent(4, t0 + 10 * H + 2000000L, text))
      q.processAllAvailable()
      val byDoc = Streaming.collapseNearDupVerdicts(spark.table("neardup_evict_out"))
        .collect().map(r => r.getLong(0) -> Option(r.get(2)).map(_.toString.toLong))
        .toMap
      assert(byDoc(1L).isEmpty, "doc 1 is the first writer")
      assert(byDoc(2L).contains(1L), "doc 2 is an in-window duplicate of 1")
      assert(byDoc(3L).isEmpty)
      assert(byDoc(4L).isEmpty,
        "doc 4 arrives after the watermark window: state evicted, re-emitted")
    } finally q.stop()
  }

  test("elapsed throttle: streaming (cross-batch state) == batch fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1704067200000000L
    val H = 3600000000L
    val events = Seq( // key "u": emits at 0h, 7h (skips 3h), 14h; key "w": all
      ("u", t0, 1L, 1.0), ("u", t0 + 3 * H, 2L, 2.0), ("u", t0 + 7 * H, 3L, 3.0),
      ("u", t0 + 9 * H, 4L, 4.0), ("u", t0 + 14 * H, 5L, 5.0),
      ("w", t0, 6L, 6.0), ("w", t0 + 8 * H, 7L, 7.0))
      .map(Streaming.ThrottleEvent.tupled)

    val batch = graft.operators.Preprocess.throttleElapsed(
        events.toDF("key", "tsUs", "seq", "value"), "tsUs", 6 * H,
        Seq("key"), seq = "seq")
      .collect().map(_.getLong(2)).toSet

    val input = MemoryStream[Streaming.ThrottleEvent]
    val q = Streaming.throttleElapsedStream(input.toDS(), 6 * H)
      .writeStream.outputMode("append")
      .format("memory").queryName("throttle_out").start()
    try {
      input.addData(events.take(3): _*) // split across micro-batches
      q.processAllAvailable()
      input.addData(events.drop(3): _*)
      q.processAllAvailable()
      val streamed = spark.table("throttle_out").collect()
        .map(_.getLong(2)).toSet
      assert(streamed == batch && streamed == Set(1L, 3L, 5L, 6L, 7L))
    } finally q.stop()
  }

  test("combine_latest: each event carries latest value of every feature") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{CombinedEvent, FeatureEvent}
    val input = MemoryStream[FeatureEvent]
    val q = Streaming.combineLatest(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("cl_out")
      .start()
    try {
      input.addData(
        FeatureEvent("BTC", 1, "mid", 100.0),
        FeatureEvent("BTC", 2, "vol", 0.5))
      q.processAllAvailable()
      input.addData(FeatureEvent("BTC", 3, "mid", 101.0))
      q.processAllAvailable()
      val out = spark.table("cl_out").as[CombinedEvent]
        .collect().sortBy(_.ts_us)
      assert(out.map(_.values) sameElements Array(
        Map("mid" -> 100.0),
        Map("mid" -> 100.0, "vol" -> 0.5),
        Map("mid" -> 101.0, "vol" -> 0.5))) // state crossed the batch
    } finally q.stop()
  }

  test("sliding stddev: streaming (cross-batch state) == batch fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{StddevEvent, ValueEvent}
    import org.apache.spark.sql.functions.col

    val events = (1 to 40).map(i =>
      ValueEvent(if (i % 2 == 0) "A" else "B", i * 10L, (i * 37 % 11) + 0.5))

    // batch reference over the same data
    val batch = graft.operators.Preprocess.slidingStddevPop(
        events.toDF(), "okey", "value", 100L, Seq("key"), "stddev")
      .select("key", "okey", "stddev")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap

    val input = MemoryStream[ValueEvent]
    val q = Streaming.slidingStddevStream(input.toDS(), 100L)
      .writeStream.outputMode("append")
      .format("memory").queryName("sd_out")
      .start()
    try {
      // 3 micro-batches: windows must span the boundaries
      input.addData(events.take(15): _*); q.processAllAvailable()
      input.addData(events.slice(15, 30): _*); q.processAllAvailable()
      input.addData(events.drop(30): _*); q.processAllAvailable()
      val streamed = spark.table("sd_out").as[StddevEvent].collect()
        .map(e => (e.key, e.okey) -> e.stddev).toMap
      assert(streamed.size == events.size)
      assert(streamed == batch) // bit-exact: same fold, same order
    } finally q.stop()
  }

  test("append-mode windowed agg: windows close on watermark advance") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val agg = input.toDF().toDF("event_ts", "event_type", "value")
      .withWatermark("event_ts", "10 minutes")
      .groupBy(window(col("event_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("bucket_us"),
        col("event_type"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_out").start()
    def ts(min: Long) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    try {
      input.addData((ts(5), "a", 1.0), (ts(20), "a", 2.0))
      q.processAllAvailable()
      // nothing emitted yet: watermark hasn't passed the window end
      assert(spark.table("wm_out").count() == 0)
      // an event 2h later closes the first hour's window
      input.addData((ts(135), "a", 3.0))
      q.processAllAvailable()
      val rows = spark.table("wm_out").collect()
      assert(rows.length == 1)
      assert(rows(0).getLong(rows(0).fieldIndex("n")) == 2L)
    } finally q.stop()
  }

  test("session_window: streaming sessions close on watermark advance") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val agg = input.toDF().toDF("event_ts", "user")
      .withWatermark("event_ts", "5 minutes")
      .groupBy(col("user"), session_window(col("event_ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user"), unix_micros(col("session_window.start")).as("start_us"),
        col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    def ts(min: Long) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    try {
      // events at 0 and 20 min merge (gap < 30); the 2h-later event
      // advances the watermark past session end -> the session emits
      input.addData((ts(0), "u"), (ts(20), "u"))
      q.processAllAvailable()
      assert(spark.table("sess_out").count() == 0)
      input.addData((ts(120), "u"))
      q.processAllAvailable()
      val rows = spark.table("sess_out").collect()
      assert(rows.length == 1 && rows(0).getLong(2) == 2L)
      assert(rows(0).getLong(1) == 1704067200000000L)
    } finally q.stop()
  }

  test("sliding TVI: streaming (cross-batch state) == batch window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streaming.{SidedEvent, TviEvent}
    import org.apache.spark.sql.functions.col
    import graft.operators.WindowOps

    // integer notionals -> exact sums -> exact cross-impl equality.
    // okey in WindowOps' us*1000 units: lookback 100us = 100000 units.
    val events = (1 to 30).map(i =>
      SidedEvent("K", i * 10000L, (i % 7 + 1).toDouble, i % 3 == 0))

    val batch = events.toDF()
      .select(col("key"), col("okey"),
        WindowOps.tvi(col("notional"), col("isBuy"), Seq(col("key")),
          col("okey"), 100L).as("tvi"))
      .collect().map(r => r.getLong(1) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap

    val input = MemoryStream[SidedEvent]
    val q = Streaming.slidingTviStream(input.toDS(), 100000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("tvi_out").start()
    try {
      input.addData(events.take(13): _*); q.processAllAvailable()
      input.addData(events.drop(13): _*); q.processAllAvailable()
      val streamed = spark.table("tvi_out").as[TviEvent].collect()
        .map(e => e.okey -> e.tvi).toMap
      assert(streamed.size == events.size)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("restart from checkpoint: L2 book state resumes exactly") {
    // The reference has no checkpointing at all (its emitter restarts
    // from scratch); this pins our claimed superiority: kill a stateful
    // query mid-stream, restart it from the SAME checkpoint, and the
    // kryo-encoded fMGWS book state must resume exactly — the
    // post-restart snapshot reflects pre-restart mutations.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the memory sink cannot recover from a checkpoint — use the file
    // sink (exactly-once via its own file log), as production would
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt_book").toString
    val (ckpt, outDir) = (s"$base/ckpt", s"$base/out")
    val input = MemoryStream[U]
    val booked = Streaming.l2BookStream(input.toDS(), depth = 3)

    val q1 = booked.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", outDir).start()
    try {
      input.addData(
        U("X", 1, 0, "SNAPSHOT", "bid", 100.0, 5.0),
        U("X", 1, 1, "SNAPSHOT", "ask", 101.0, 3.0),
        U("X", 2, 2, "ADD", "bid", 99.0, 2.0))
      q1.processAllAvailable()
      assert(spark.read.parquet(outDir).count() == 2)
    } finally q1.stop() // kill mid-stream

    // restart: same checkpoint + sink — only NEW batches are processed
    val q2 = booked.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", outDir).start()
    try {
      input.addData(U("X", 3, 3, "SUB", "bid", 100.0, 1.0))
      q2.processAllAvailable()
      val all = spark.read.parquet(outDir).as[L2Book.Snapshot].collect()
      assert(all.length == 3) // no reprocessing/duplication of batch 1
      val out = all.filter(_.ts_us == 3)
      assert(out.length == 1)
      // 100.0@5 -1 = 4 and the 99.0@2 level BOTH come from recovered state
      assert(out(0).bids == Seq(L2Book.Level(100.0, 4.0), L2Book.Level(99.0, 2.0)))
      assert(out(0).asks == Seq(L2Book.Level(101.0, 3.0)))
    } finally q2.stop()
  }

  test("restart from checkpoint: throttle last-emit state resumes exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1704067200000000L
    val H = 3600000000L
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt_thr").toString
    val (ckpt, outDir) = (s"$base/ckpt", s"$base/out")
    val input = MemoryStream[Streaming.ThrottleEvent]
    val throttled = Streaming.throttleElapsedStream(input.toDS(), 6 * H)

    val q1 = throttled.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", outDir).start()
    try {
      input.addData(Streaming.ThrottleEvent("u", t0, 1L, 1.0))
      q1.processAllAvailable()
      assert(spark.read.parquet(outDir).count() == 1)
    } finally q1.stop()

    val q2 = throttled.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", outDir).start()
    try {
      // 3h after the PRE-RESTART emit: suppressed iff lastEmit recovered
      input.addData(Streaming.ThrottleEvent("u", t0 + 3 * H, 2L, 2.0),
        Streaming.ThrottleEvent("u", t0 + 7 * H, 3L, 3.0))
      q2.processAllAvailable()
      val seqs = spark.read.parquet(outDir).collect().map(_.getLong(2)).toSet
      assert(seqs == Set(1L, 3L), s"expected seqs {1,3}, got $seqs")
    } finally q2.stop()
  }

  test("stateful L2 book stream: state carries across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[U]
    val q = Streaming.l2BookStream(input.toDS(), depth = 3)
      .writeStream.outputMode("append")
      .format("memory").queryName("book_out")
      .start()
    try {
      // batch 1: snapshot
      input.addData(
        U("X", 1, 0, "SNAPSHOT", "bid", 100.0, 5.0),
        U("X", 1, 1, "SNAPSHOT", "ask", 101.0, 3.0))
      q.processAllAvailable()
      // batch 2: mutation — must see batch 1's book from state
      input.addData(U("X", 2, 2, "ADD", "bid", 100.0, 1.0))
      q.processAllAvailable()
      val out = spark.table("book_out").as[L2Book.Snapshot]
        .collect().sortBy(_.ts_us)
      assert(out.length == 2)
      assert(out(1).bids == Seq(L2Book.Level(100.0, 6.0)))
      assert(out(1).asks == Seq(L2Book.Level(101.0, 3.0)))
    } finally q.stop()
  }

  test("streaming source cap: later batch displaces an earlier keeper") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(String, java.lang.Long, Long)]
    val q = Streaming.sourceCapStream(
        input.toDS().toDF("source", "q_dm", "doc_id"),
        col("source"), col("q_dm"), col("doc_id"), cap = 2)
      .writeStream.outputMode("complete")
      .format("memory").queryName("cap_out").start()
    try {
      // batch 1 fills site A's cap with scores 10, 20 (+ a null-score row)
      input.addData(("a", java.lang.Long.valueOf(10L), 1L),
        ("a", java.lang.Long.valueOf(20L), 2L), ("a", null, 3L),
        ("b", java.lang.Long.valueOf(5L), 9L))
      q.processAllAvailable()
      // batch 2: score 30 must EVICT the score-10 keeper from state
      input.addData(("a", java.lang.Long.valueOf(30L), 4L))
      q.processAllAvailable()
      val out = Streaming.unpackTopCap(spark.table("cap_out"))
        .collect().map(r => (r.getString(1), r.getInt(3)) ->
          (r.getLong(0), if (r.isNullAt(2)) -999L else r.getLong(2))).toMap
      assert(out == Map(
        ("a", 1) -> (4L, 30L), ("a", 2) -> (2L, 20L),
        ("b", 1) -> (9L, 5L)))
    } finally q.stop()
  }

  test("streaming source cap: null score ranks last and decodes to NULL") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(String, java.lang.Long, Long)]
    val q = Streaming.sourceCapStream(
        input.toDS().toDF("source", "q_dm", "doc_id"),
        col("source"), col("q_dm"), col("doc_id"), cap = 3)
      .writeStream.outputMode("complete")
      .format("memory").queryName("cap_null_out").start()
    try {
      input.addData(("a", null, 7L), ("a", java.lang.Long.valueOf(4L), 8L))
      q.processAllAvailable()
      val rows = Streaming.unpackTopCap(spark.table("cap_null_out"))
        .collect().map(r => (r.getLong(0), r.getInt(3), r.isNullAt(2)))
      assert(rows.toSet == Set((8L, 1, false), (7L, 2, true)))
    } finally q.stop()
  }

  test("interval join stream: fractional-second lookback is not truncated") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val t0 = 1704067200000000L
    // 1.5 s lookback: whole-second truncation (the pre-r11 bug,
    // INTERVAL lookbackUs/1e6 SECONDS) would silently shrink it to
    // 1 s and drop the pair 1.2 s apart
    val lIn = MemoryStream[(Long, Long, Long)]
    val rIn = MemoryStream[(Long, Long, Long)]
    val joined = Streaming.intervalJoinStream(
        lIn.toDS().toDF("user_id", "ts_us", "l_id"),
        rIn.toDS().toDF("user_id", "ts_us", "r_id"),
        "user_id", "ts_us", lookbackUs = 1500000L,
        watermarkDelay = "1 minute")
      .select(col("l_id"), col("r_id"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ij_frac_out").start()
    try {
      lIn.addData((1L, t0 + 2000000L, 10L))
      rIn.addData(
        (1L, t0 + 800000L, 20L),  // 1.2 s before: inside 1.5 s, outside 1 s
        (1L, t0 + 400000L, 21L),  // 1.6 s before: outside
        (1L, t0 + 2000000L, 22L)) // same instant: inside
      q.processAllAvailable()
      val got = spark.table("ij_frac_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((10L, 20L), (10L, 22L)))
    } finally q.stop()
  }

  test("drain rule: the plan sets the output mode; only an outer stream join runs a no-data batch") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, count, expr, lit, sum, timestamp_micros}
    import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
    import StreamingQueryListener._
    val t0 = 1704067200000000L
    val S = 1000000L
    // one trigger per file: a burst, a quiet stretch 10 s on, and a
    // last file whose rows at 30 s move the watermark past the left
    // row at 20 s (id 12), so only a no-data batch can finalize it
    val files = Seq(
      (0L until 8L).map(i => (i, t0 + i * 300000L)),
      (8L until 12L).map(i => (i, t0 + 10 * S + (i - 8) * 300000L)),
      Seq((12L, t0 + 20 * S), (13L, t0 + 30 * S), (14L, t0 + 31 * S)))
    val in = java.nio.file.Files.createTempDirectory("graft_drain_rule")
    files.zipWithIndex.foreach { case (rows, f) =>
      val p = in.resolve(s"part-$f.json")
      java.nio.file.Files.write(p, rows.map { case (id, ts) =>
        s"""{"k": "k${id % 3}", "ts_us": $ts, "id": $id, "v": ${id * 0.5}}"""
      }.mkString("\n").getBytes("UTF-8"))
      p.toFile.setLastModified(1700000000000L + f * 1000L)
    }
    def src(): DataFrame = spark.readStream
      .schema("k STRING, ts_us LONG, id LONG, v DOUBLE")
      .option("maxFilesPerTrigger", "1").json(in.toString)
    // left rows have even ids, right rows odd ones
    def side(left: Boolean) = src().filter((col("id") % 2 === 0) === left)
    def timed(df: DataFrame, id: String, ts: String) =
      df.select(col("k").as(s"${ts}_k"), col("id").as(id),
        timestamp_micros(col("ts_us")).as(ts)).withWatermark(ts, "1 second")
    val plans: Seq[(String, DataFrame, Boolean)] = Seq( // name, plan, complete
      ("aggregate", src().groupBy("k").agg(count(lit(1)).as("n"), sum("id").as("s")), true),
      ("keyed fold", Streaming.throttleElapsedStream(src().select(col("k").as("key"),
          col("ts_us").as("tsUs"), col("id").as("seq"), col("v").as("value"))
        .as[Streaming.ThrottleEvent], S).toDF(), false),
      ("band engine", Streaming.hashDedupStream(src().select(col("id"), col("ts_us"),
          (col("id") % 4 * 0x0F0F0F0FL).as("h")).as[(Long, Long, Long)],
        maxDist = 3, watermarkDelayMs = 1000L).toDF(), false),
      ("inner interval join", Streaming.intervalJoinStream(
          side(true).select(col("k"), col("ts_us"), col("id").as("l_id")),
          side(false).select(col("k"), col("ts_us"), col("id").as("r_id")),
          "k", "ts_us", 2 * S, "1 second").select("l_id", "r_id"), false),
      ("stateless map", src().select(col("id"), (col("v") * 2).as("v2")), false),
      ("left-outer join", timed(side(true), "l_id", "l_ts").join(
          timed(side(false), "r_id", "r_ts"),
          col("l_ts_k") === col("r_ts_k") &&
            col("r_ts") >= col("l_ts") - expr("INTERVAL 2 SECONDS") &&
            col("r_ts") <= col("l_ts"), "leftOuter").select("l_id", "r_id"), false))

    val inputRows = new java.util.concurrent.ConcurrentHashMap[
      java.util.UUID, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        inputRows.computeIfAbsent(e.progress.runId,
          _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
          .add(e.progress.numInputRows)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended.add(e.runId)
    }
    // the run that ends next: the bus posts its progress events first
    def nextEnded(body: => Unit): java.util.UUID = {
      val before = ended.asScala.toSet
      body
      val deadline = System.nanoTime() + 60L * 1000000000L
      while ((ended.asScala.toSet -- before).isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      val fresh = ended.asScala.toSet -- before
      assert(fresh.size == 1, s"expected one ended query, got $fresh")
      fresh.head
    }
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).toSeq.sorted
    spark.streams.addListener(listener)
    try plans.foreach { case (name, df, complete) =>
      var drained = Seq.empty[String]
      val run = nextEnded { drained = rows(Streaming.runAvailableNow(df)) }
      nextEnded {
        df.writeStream.outputMode(if (complete) "complete" else "append")
          .format("memory").queryName("drain_rule_out")
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
      }
      assert(drained.nonEmpty && drained == rows(spark.table("drain_rule_out")),
        s"$name: the drain differs from a plain writeStream")
      val batches = inputRows.get(run).asScala.toSeq
      val outer = name == "left-outer join"
      assert(batches.count(_ > 0) == 3, s"$name: one data batch per file, got $batches")
      assert(batches.contains(0L) == outer, s"$name: no-data batch ran: $batches")
      if (outer) {
        assert(drained.contains("12|null"), s"watermark-finalized row missing: $drained")
        assert(!drained.contains("14|null"), s"a row past the watermark emitted: $drained")
      }
    } finally spark.streams.removeListener(listener)
  }

  /** A two-trigger AvailableNow drain of a JSON-lines directory through
    * exactDedupStream into a foreachBatch collect sink, checkpointed
    * under `root`; returns the rows it emitted. */
  private def dedupDrain(root: java.nio.file.Path): Seq[String] = {
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    val in = java.nio.file.Files.createDirectories(root.resolve("in"))
    val t0 = 1704067200000000L
    Seq(Seq("a", "b", "a"), Seq("b", "c")).zipWithIndex.foreach { case (texts, f) =>
      val lines = texts.zipWithIndex.map { case (t, i) =>
        s"""{"ts_us": ${t0 + f * 1000L + i}, "text": "$t"}""" }
      java.nio.file.Files.write(in.resolve(s"part-$f.json"),
        lines.mkString("\n").getBytes("UTF-8"))
      in.resolve(s"part-$f.json").toFile.setLastModified(1700000000000L + f * 1000L)
    }
    val src = spark.readStream.schema("ts_us LONG, text STRING")
      .option("maxFilesPerTrigger", "1").json(in.toString)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = Streaming.exactDedupStream(src, col("text"),
        timestamp_micros(col("ts_us")), "1 hour")
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => out.add(r.getString(1)))
      }
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    out.asScala.toSeq.sorted
  }

  test("checkpoint fork guard: a stateful drain starts no process, Spark's default manager does") {
    val key = graft.streaming.LocalCheckpointFileManager.ConfKey
    val prev = spark.conf.getOption(key)
    def mentions(cmds: Seq[String], root: java.nio.file.Path) =
      cmds.filter(_.contains(root.toString))
    try {
      spark.conf.unset(key)
      val root = java.nio.file.Files.createTempDirectory("graft_fork_guard")
      var rows = Seq.empty[String]
      val cmds = ForkProbe.processStarts { rows = dedupDrain(root) }
      assert(rows == Seq("a", "b", "c"))
      // no readlink at all, and nothing touching the checkpoint
      assert(!cmds.exists(_.startsWith("readlink")), cmds.mkString("\n"))
      assert(mentions(cmds, root).isEmpty, mentions(cmds, root).mkString("\n"))

      // the control: the guard sees the forks of Spark's default
      // FileContext manager when the user names it
      spark.conf.set(key, "org.apache.spark.sql.execution.streaming" +
        ".checkpointing.FileContextBasedCheckpointFileManager")
      val root2 = java.nio.file.Files.createTempDirectory("graft_fork_control")
      val cmds2 = ForkProbe.processStarts { rows = dedupDrain(root2) }
      assert(rows == Seq("a", "b", "c"))
      assert(mentions(cmds2, root2).exists(_.startsWith("readlink")),
        cmds2.mkString("\n"))
      assert(mentions(cmds2, root2).exists(_.startsWith("chmod")),
        cmds2.mkString("\n"))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** One source, builder and sink of each kind, by name: each must
    * call the streaming install. */
  private def installingBuilders: Seq[(String, () => Unit)] = {
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val df = Seq((1L, "a")).toDF("ts_us", "text")
    Seq(
      "exactDedupStream" -> (() => Streaming.exactDedupStream(df, col("text"),
        timestamp_micros(col("ts_us")), "1 hour")),
      "documentsStream" -> (() => Streaming.documentsStream(spark, dir)),
      "l2BookStream" -> (() => Streaming.l2BookStream(MemoryStream[U].toDS(), 3)),
      "vocabCountStream" -> (() => Streaming.vocabCountStream(df, col("text"))),
      "BlockWriter.start" -> { () =>
        val cat = new graft.sources.BlockCatalog(spark,
          java.nio.file.Files.createTempDirectory("graft_install_bw").toString)
        graft.streaming.BlockWriter.start(
          MemoryStream[(Long, Double)].toDS().toDF("ts_us", "v"),
          cat, "f", "k", "ts_us").stop()
      })
  }

  test("checkpoint manager: builders install it, a user value stays, the scheme picks the backend") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
    import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
    import graft.streaming.{LocalCheckpointFileManager, NioLocalFileSystem}
    val key = LocalCheckpointFileManager.ConfKey
    val graftClass = classOf[LocalCheckpointFileManager].getName
    val prev = spark.conf.getOption(key)
    val builders = installingBuilders
    try {
      builders.foreach { case (name, build) =>
        spark.conf.unset(key)
        build()
        assert(spark.conf.getOption(key).contains(graftClass), name)
      }
      // a value the user set, in the session or the Hadoop conf, stays
      val userClass = classOf[FileSystemBasedCheckpointFileManager].getName
      spark.conf.set(key, userClass)
      builders.foreach { case (name, build) =>
        build()
        assert(spark.conf.getOption(key).contains(userClass), name)
      }
      spark.conf.unset(key)
      val hadoop = spark.sparkContext.hadoopConfiguration
      hadoop.set(key, userClass)
      try {
        builders.head._2()
        assert(spark.conf.getOption(key).isEmpty)
      } finally hadoop.unset(key)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))

    def fsOf(fm: CheckpointFileManager): FileSystem =
      classOf[FileSystemBasedCheckpointFileManager].getMethod("fs").invoke(fm)
        .asInstanceOf[FileSystem]
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set(key, graftClass)
    // file: paths, qualified or not: Spark's FileSystem-based manager
    // over the NIO local filesystem, which the session never sees
    val tmp = java.nio.file.Files.createTempDirectory("graft_ckpt_fm")
    for (p <- Seq(new Path(tmp.toUri), new Path(tmp.toString))) {
      val fm = CheckpointFileManager.create(p, conf)
      assert(fm.isInstanceOf[LocalCheckpointFileManager])
      val d = fm.asInstanceOf[LocalCheckpointFileManager].delegate
      assert(d.isInstanceOf[FileSystemBasedCheckpointFileManager])
      assert(fsOf(d).isInstanceOf[NioLocalFileSystem])
      assert(d.isLocal)
    }
    assert(!FileSystem.get(tmp.toUri, conf).isInstanceOf[NioLocalFileSystem])
    // the delegate commits through temp file then rename, keeping .crc
    val fm = CheckpointFileManager.create(new Path(tmp.toUri), conf)
    val f = new Path(tmp.resolve("0").toUri)
    val os = fm.createAtomic(f, overwriteIfPossible = false)
    os.write("v1".getBytes("UTF-8"))
    os.close()
    assert(fm.exists(f))
    val is = fm.open(f)
    try assert(new String(is.readAllBytes(), "UTF-8") == "v1") finally is.close()
    assert(java.nio.file.Files.exists(tmp.resolve(".0.crc")))
    assert(fm.list(new Path(tmp.toUri)).map(_.getPath.getName).toSeq == Seq("0"))
    fm.delete(f)
    assert(!fm.exists(f))

    // any other scheme: exactly the manager Spark itself picks
    conf.set("fs.graftfake.impl", classOf[RawLocalFileSystem].getName)
    conf.setBoolean("fs.graftfake.impl.disable.cache", true)
    val fake = new Path("graftfake:///tmp/graft_ckpt_fake")
    val sparkConf = new Configuration(conf)
    sparkConf.unset(key)
    val want = CheckpointFileManager.create(fake, sparkConf)
    val got = CheckpointFileManager.create(fake, conf)
      .asInstanceOf[LocalCheckpointFileManager].delegate
    assert(got.getClass == want.getClass)
    assert(fsOf(got).getClass == fsOf(want).getClass)
    assert(!fsOf(got).isInstanceOf[NioLocalFileSystem])
  }

  test("codegen cache: a second streaming query reuses the first one's generated classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    // start from an empty cache, so the first drain compiles its classes
    // whatever earlier specs left there
    val cacheOf = CodeGenerator.getClass.getDeclaredMethod("cache")
    cacheOf.setAccessible(true)
    val cache = cacheOf.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    def compiles(body: => Unit): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      body
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val runs = Seq("graft_codegen_a", "graft_codegen_b").map { name =>
      val root = java.nio.file.Files.createTempDirectory(name)
      compiles(assert(dedupDrain(root) == Seq("a", "b", "c")))
    }
    // each query runs on its own session clone; with per-clone executor
    // classloaders the second drain recompiles every class
    assert(runs.head > 0 && runs(1) * 2 < runs.head, runs.mkString(" then "))
  }

  test("streaming install: a user-set artifact isolation value survives every builder") {
    val key = graft.streaming.StreamingSession.IsolationKey
    val prev = spark.conf.getOption(key)
    try installingBuilders.foreach { case (name, build) =>
      spark.conf.unset(key)
      build()
      assert(spark.conf.getOption(key).contains("false"), name)
      spark.conf.set(key, "true")
      build()
      assert(spark.conf.getOption(key).contains("true"), name)
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
