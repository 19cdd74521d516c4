package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.operators.{KeyedFold, L2Book}
import graft.operators.L2Book.{Snapshot, Update}

/** Kappa parity (SURVEY.md §2.9): the same `DataFrame => DataFrame`
  * transform runs over `spark.read` (batch replay) and
  * `spark.readStream` (live) — Structured Streaming's unified API is
  * exactly the reference's online/offline split, minus its hand-rolled
  * runtime. Watermarks give strictly more than the reference's
  * "input must be ts-sorted" assumption.
  *
  * Every public source, builder and drain here first calls
  * [[StreamingSession.install]] on its session. It applies two
  * settings:
  *  - [[LocalCheckpointFileManager]] as the checkpoint manager, so the
  *    offset, commit and state-store files of a query started on the
  *    result are written without process forks;
  *  - `spark.sql.artifact.isolation.enabled=false`, so every query's
  *    tasks share the executor's default classloader and Spark's
  *    codegen cache serves one query's generated classes to the next
  *    instead of recompiling them.
  * The install is session-wide and never overrides a value the user
  * set for either key.
  */
object Streaming {

  /** The normalized events contract schema (ts = epoch-nanos Long):
    * what every consumer sees after Tables.normalizeTs, and what the
    * DSv2 replay source emits directly (its buffered rows hold nanos
    * Longs). */
  val EventsNanosSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming source replaying the events parquet (S6 stand-in: the
    * live WebSocket feed is out of scope in a zero-egress env). The
    * on-disk `ts` encoding has varied across driver regens (plain
    * INT64 nanos / TIMESTAMP(NANOS) / TIMESTAMP(MICROS, NTZ)), and a
    * readStream schema must match the file exactly — so the schema is
    * inferred from the parquet FOOTER via a metadata-only batch read,
    * and Tables.normalizeTs restores the nanos-Long contract on top,
    * whatever the footer said. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    StreamingSession.install(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val onDisk = spark.read.parquet(s"$dir/events.parquet").schema
    // FileStreamSource takes a directory; the glob filter narrows it to
    // the events table (other tables in the sf dir have other schemas).
    graft.Tables.normalizeTs(spark.readStream
      .schema(onDisk)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))
  }

  /** A transform usable identically in batch and streaming: tumbling
    * 1h windowed aggregates per event_type with a 2h watermark. */
  def windowedAgg(df: DataFrame): DataFrame =
    installed(df).withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_ts", "2 hours")
      .groupBy(window(col("event_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100)).as("value_cents"))
      .select(unix_micros(col("window.start")).as("bucket_us"),
        col("event_type"), col("n"), col("value_cents"))

  /** Stream-stream INTERVAL join — the missing Spark streaming join
    * family next to the batch as-of: each left-stream row joins every
    * right-stream row of the same key whose event time falls in
    * `[left_ts - lookbackUs, left_ts]` (purchase enriched with the
    * user's preceding clicks — attribution / feature-enrichment
    * shape). Both sides carry watermarks and the join condition is an
    * event-time RANGE, so Spark bounds both state stores: a right row
    * is dropped once the watermark passes `right_ts + lookback`,
    * independent of stream volume. Inner join → append mode → the
    * emitted set equals the batch join exactly under ANY trigger
    * slicing (no result depends on batch boundaries), which is what
    * lets one batch SQL oracle grade the streaming engine.
    *
    * At 100 TB/day the state bound is `lookback × per-key rate`, not
    * corpus size; the key (`user_id`) shards state across executors
    * exactly like the batch join's shuffle. */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
      key: String, tsCol: String, lookbackUs: Long,
      watermarkDelay: String): DataFrame = {
    val l = installed(left).withColumn("l_ts", timestamp_micros(col(tsCol)))
      .withWatermark("l_ts", watermarkDelay)
    val r = right.withColumnRenamed(key, "r_key")
      .withColumn("r_ts", timestamp_micros(col(tsCol)))
      .withWatermark("r_ts", watermarkDelay)
      .drop(tsCol)
    l.join(r,
      col(key) === col("r_key") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $lookbackUs MICROSECOND") &&
        col("r_ts") <= col("l_ts"))
  }

  /** Streaming OHLCV — the A1 tumbling aggregate (WindowOps.ohlcv /
    * ev_ohlcv_1h) as a streaming hash agg over the same declarative
    * expressions (min_by/max_by on the total order key, exact-cents
    * sums), so batch == stream BY CONSTRUCTION and the driver oracle
    * is the same SQL. Drained in complete mode: OHLCV state is one row
    * per (event_type, bucket) — metadata-sized (hours x instruments),
    * never per-event, so "complete" here is not the unbounded-state
    * trap it is for row-level streams. Production append mode adds
    * `withWatermark` on a bucket-derived event-time column (the
    * [[windowedAgg]] shape) and trades late-bucket finality for
    * incremental emission. */
  def ohlcvStream(df: DataFrame, bucketUs: Long): DataFrame = {
    val vc = round(col("value") * 100)
    val okey = graft.operators.WindowOps.orderKey(col("ts_us"), col("event_id"))
    installed(df).withColumn("ts_us", expr("ts div 1000"))
      .groupBy(col("event_type"),
        graft.operators.WindowOps.bucket(col("ts_us"), bucketUs).as("bucket_us"))
      .agg(
        min_by(col("value"), okey).as("open"),
        max("value").as("high"),
        min("value").as("low"),
        max_by(col("value"), okey).as("close"),
        (sum(vc) / 100).as("volume"),
        when(sum(vc) =!= 0, sum(vc * vc) / sum(vc) / 100).as("vwap"),
        count(lit(1)).as("num_trades"))
  }

  /** Streaming exact dedup (the streaming twin of Dedup.exactDedup):
    * first-writer-wins on a sha2-256 content digest — the shape of a
    * streaming ingest pipeline dropping re-crawled/duplicate documents.
    * Uses `dropDuplicatesWithinWatermark`, which EVICTS a digest's
    * state once the watermark passes it — plain `dropDuplicates` on a
    * non-event-time subset never cleans state and grows without bound
    * on a long stream. The trade is explicit: a duplicate arriving
    * after the watermark window re-emits; at 100 TB the bounded state
    * is 32 B per in-window distinct digest, never the document. */
  def exactDedupStream(df: DataFrame, text: org.apache.spark.sql.Column,
      tsCol: org.apache.spark.sql.Column, watermarkDelay: String): DataFrame =
    installed(df).withColumn("__event_ts", tsCol)
      .withColumn("__digest", sha2(text, 256))
      .withWatermark("__event_ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("__digest")
      .drop("__digest", "__event_ts")

  /** The documents table's schema (for the file streaming source). */
  val DocumentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming source replaying the documents parquet — the shape of a
    * streaming crawl ingest (glob-narrowed like [[eventsStream]]). */
  def documentsStream(spark: SparkSession, dir: String): DataFrame = {
    StreamingSession.install(spark)
    spark.readStream
      .schema(DocumentsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
  }

  /** Streaming JSONL source — the streaming twin of
    * [[graft.sources.Ingest.readJsonl]]: schema'd (never inferred)
    * permissive scan with a `_corrupt_record` quarantine column, over
    * a directory a crawler keeps appending JSON-lines files to. The
    * ingest-time entry point for a continuously-arriving text corpus;
    * compose with [[exactDedupKeepListStream]] /
    * [[paragraphKeepListStream]] / [[sourceCapStream]] for the
    * on-the-fly curation path. */
  def jsonlStream(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    StreamingSession.install(spark)
    val withCorrupt =
      if (schema.fieldNames.contains("_corrupt_record")) schema
      else schema.add("_corrupt_record",
        org.apache.spark.sql.types.StringType)
    spark.readStream
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
  }

  /** Streaming exact-dedup KEEP-LIST — the aggregation twin of
    * [[exactDedupStream]], and the variant an exact oracle can
    * hash-check: min-id/count per content digest as a stateful
    * streaming aggregation. First-writer-wins depends on arrival order
    * WITHIN a micro-batch (not deterministic under repartitioned
    * replay), but min()/count() are order-independent, so the final
    * frame is identical under any trigger slicing or partitioning —
    * the same exactness discipline the batch queries follow (QueryDef
    * scaladoc). State is 32 B digest + two counters per distinct
    * document, sharded by digest across the cluster exactly like the
    * batch `Dedup.exactDedup` shuffle; no watermark because the
    * keep-list is a global index (bounded-window eviction is
    * [[exactDedupStream]]'s trade). */
  def exactDedupKeepListStream(df: DataFrame,
      text: org.apache.spark.sql.Column, id: org.apache.spark.sql.Column,
      nChars: org.apache.spark.sql.Column): DataFrame =
    installed(df).groupBy(sha2(text, 256).as("digest"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"),
        min(nChars).as("n_chars"))

  /** Streaming SHINGLE first-owner table — the stateful half of the
    * novelty profile ([[graft.operators.Dedup.noveltyProfile]]) run at
    * ingest: every distinct trigram shingle's owner is a min/count
    * aggregation on the 64-bit shingle id, exactly the
    * [[exactDedupKeepListStream]] shape one granularity down. min and
    * count are order-independent, so the drained table is identical
    * under any trigger slicing — the batch SQL oracle grades the
    * streaming engine directly. State is one (first_id, n_occ) entry
    * per DISTINCT SHINGLE — corpus-cardinality by definition (shingles
    * outnumber documents ~100:1), so this drain is RocksDB-routed AT
    * DESIGN TIME, not retrofit after a probe OOM (the round-7 rule
    * applied forward). The per-doc novelty tail is a batch join over
    * the drained owners (the corpus-drift composition shape). */
  def shingleOwnerStream(df: DataFrame, text: org.apache.spark.sql.Column,
      id: org.apache.spark.sql.Column, n: Int): DataFrame =
    graft.operators.Dedup.explodeShingles(installed(df), text, id, n)
      .select(col("doc_id"), xxhash64(col("s")).as("s"))
      .groupBy("s")
      .agg(min(col("doc_id")).as("first_id"), count(lit(1)).as("n_occ"))

  /** Streaming PASSAGE keep-list — the streaming twin of
    * [[graft.operators.Dedup.paragraphDedup]]'s keeper election, for
    * ingest pipelines that dedupe boilerplate passages on the fly:
    * incoming documents are chunked per-row (stateless typed flatMap,
    * so it composes with the streaming scan), and the keeper of every
    * distinct passage is a stateful min/count aggregation on the
    * passage digest. min() and count() are order-independent, so the
    * final frame is identical under any trigger slicing or replay
    * partitioning — the exactness discipline that lets a batch SQL
    * oracle hash-check a streaming run. State per distinct passage is
    * the 32 B digest + the (doc_id, chunk_idx) keeper struct + a
    * counter, sharded by digest exactly like the batch min shuffle;
    * passage text never enters state. Keeper order is the lexicographic
    * struct min (the batch [[graft.operators.Dedup.paragraphDedup]]
    * rule — no encoded arithmetic key, no overflow bound). */
  def paragraphKeepListStream(df: DataFrame,
      text: org.apache.spark.sql.Column, id: org.apache.spark.sql.Column,
      size: Int): DataFrame =
    graft.operators.TextAnalysis.chunkWords(installed(df), text, id, size, size)
      .groupBy(sha2(col("chunk"), 256).as("digest"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("k"),
        count(lit(1)).as("n_copies"))
      .select(col("digest"),
        col("k.doc_id").cast("long").as("keep_doc_id"),
        col("k.chunk_idx").cast("long").as("keep_idx"),
        col("n_copies"))

  /** Bounded per-group top-cap aggregator: state is the packed array
    * [s0,i0,s1,i1,...] of the cap best (score DESC, id ASC) pairs,
    * best-first. Inserting into a capped sorted set is a deterministic
    * function of the input MULTISET — order-independent and
    * merge-associative — so the drained result is identical under any
    * trigger slicing or replay partitioning (the batch-oracle
    * discipline), and state per group is 16*cap bytes NO MATTER how
    * many rows the group has seen (primitive Long array: the
    * Kryo-state rule — arrays, never boxed collections). */
  final class TopCapAgg(cap: Int) extends org.apache.spark.sql.expressions
      .Aggregator[(String, Long, Long), Array[Long], Array[Long]] {
    private def better(s1: Long, i1: Long, s2: Long, i2: Long): Boolean =
      s1 > s2 || (s1 == s2 && i1 < i2)
    private def insert(buf: Array[Long], s: Long, i: Long): Array[Long] = {
      val n = buf.length / 2
      if (n == cap && !better(s, i, buf(2 * n - 2), buf(2 * n - 1))) return buf
      var p = 0
      while (p < n && better(buf(2 * p), buf(2 * p + 1), s, i)) p += 1
      val m = math.min(n + 1, cap)
      val out = new Array[Long](2 * m)
      System.arraycopy(buf, 0, out, 0, 2 * p)
      out(2 * p) = s
      out(2 * p + 1) = i
      System.arraycopy(buf, 2 * p, out, 2 * p + 2, 2 * (m - p - 1))
      out
    }
    def zero: Array[Long] = Array.emptyLongArray
    def reduce(buf: Array[Long], row: (String, Long, Long)): Array[Long] =
      insert(buf, row._2, row._3)
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var out = a
      var j = 0
      val nb = b.length / 2
      while (j < nb) { out = insert(out, b(2 * j), b(2 * j + 1)); j += 1 }
      out
    }
    def finish(r: Array[Long]): Array[Long] = r
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Capped DISTINCT-count aggregator: state is the sorted array of
    * the `cap` SMALLEST distinct values seen — a deterministic
    * function of the input MULTISET (order-independent,
    * merge-associative), so the drained count is identical under any
    * trigger slicing. |state| >= cap iff the true distinct count is
    * >= cap (the capped set keeps smallest-first, so it fills exactly
    * when enough distincts exist): the saturating document-frequency
    * test of the streaming boilerplate detector, in 8*cap bytes per
    * key no matter how hot the key (primitive Long array — the
    * Kryo-state rule). */
  final class DistinctCapAgg(cap: Int) extends org.apache.spark.sql.expressions
      .Aggregator[(String, Long), Array[Long], Long] {
    require(cap > 0, s"cap must be positive, got $cap")
    private def insert(buf: Array[Long], v: Long): Array[Long] = {
      val n = buf.length
      var p = 0
      while (p < n && buf(p) < v) p += 1
      if (p < n && buf(p) == v) return buf // already present
      if (n == cap) {
        if (p == n) return buf // larger than every kept value, full
        val out = new Array[Long](cap)
        System.arraycopy(buf, 0, out, 0, p)
        out(p) = v
        System.arraycopy(buf, p, out, p + 1, cap - p - 1)
        return out
      }
      val out = new Array[Long](n + 1)
      System.arraycopy(buf, 0, out, 0, p)
      out(p) = v
      System.arraycopy(buf, p, out, p + 1, n - p)
      out
    }
    def zero: Array[Long] = Array.emptyLongArray
    def reduce(buf: Array[Long], row: (String, Long)): Array[Long] =
      insert(buf, row._2)
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var out = a
      var j = 0
      while (j < b.length) { out = insert(out, b(j)); j += 1 }
      out
    }
    def finish(r: Array[Long]): Long = r.length.toLong
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
  }

  /** Streaming BOILERPLATE detection — the streaming twin of
    * [[graft.operators.Dedup.boilerplateStrip]]'s document-frequency
    * pass, for flagging chrome/footer passages DURING ingest:
    * documents chunk statelessly per row (the shared chunker), and
    * per-passage-digest state accumulates the capped distinct
    * document count ([[DistinctCapAgg]] at `cap = minDf` — the df
    * test saturates, so state per digest is 32 B + 8*minDf bytes
    * however many documents carry the passage). Drained output:
    * (digest, df_capped); `df_capped >= minDf` is the boilerplate
    * verdict, bit-equal to the batch countDistinct rule under any
    * trigger slicing. Compose with
    * [[graft.operators.Dedup.boilerplateStripAgainst]] for the
    * rebuild. */
  def boilerplateDfStream(df: DataFrame,
      text: org.apache.spark.sql.Column, id: org.apache.spark.sql.Column,
      size: Int, minDf: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.operators.TextAnalysis.chunkWords(installed(df), text, id, size, size)
      .select(sha2(col("chunk"), 256).as("digest"), col("doc_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .agg(new DistinctCapAgg(minDf).toColumn.name("df_capped"))
      .toDF("digest", "df_capped")
  }

  /** Streaming per-source frequency capping — the streaming twin of
    * [[graft.operators.Sampling.sourceCap]], for capping hot domains
    * DURING ingest instead of in a batch pass: per group the state
    * store holds only the packed cap-best (score, id) pairs
    * ([[TopCapAgg]]), sharded by group exactly like the batch window's
    * exchange. Null scores coalesce to -1 (the batch rule: below every
    * real score; real scores must be >= 0 — the qualityDecimicro
    * discipline). Output per group is the packed array; decode with
    * [[unpackTopCap]] after draining. Final state == the batch
    * sourceCap keep-set BY CONSTRUCTION (capped-set insertion is
    * multiset-deterministic), which is what lets the batch SQL oracle
    * hash-check a streaming run. */
  def sourceCapStream(df: DataFrame, group: org.apache.spark.sql.Column,
      score: org.apache.spark.sql.Column, id: org.apache.spark.sql.Column,
      cap: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    installed(df).select(group.cast("string").as("g"),
        coalesce(score, lit(-1L)).cast("long").as("s"),
        id.cast("long").as("i"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .agg(new TopCapAgg(cap).toColumn.name("top"))
      .toDF("source", "top")
  }

  /** Decode [[sourceCapStream]]'s packed state into the batch
    * sourceCap output shape: (doc_id, source, q_dm, rn) with rn the
    * 1-based rank and -1 scores restored to NULL. */
  def unpackTopCap(drained: DataFrame): DataFrame =
    drained
      .select(col("source"), posexplode(expr(
        """transform(sequence(0, CAST(size(top)/2 AS INT) - 1),
          |  j -> named_struct('s', top[2*j], 'i', top[2*j+1]))""".stripMargin)))
      .select(col("col.i").as("doc_id"), col("source"),
        nullif(col("col.s"), lit(-1L)).as("q_dm"),
        (col("pos") + 1).cast("int").as("rn"))

  /** Streaming WORD-COUNT state — the streaming half of the
    * heavy-hitters story: documents stream in, tokenize statelessly
    * per row (same parity split as the batch side), and per-word
    * counters accumulate in the state store, sharded by word exactly
    * like the batch vocab aggregation's shuffle. count() is
    * order-independent, so the drained frame is identical under any
    * trigger slicing — the batch SQL oracle hash-checks a streaming
    * run (the doc_dedup_exact_stream discipline). State is one
    * counter per DISTINCT WORD — and web-corpus vocabulary grows with
    * the corpus (heaps-law), so this is corpus-cardinality state
    * under the RocksDB routing rule: drain with `rocksdbState = true`
    * (the graded queries do). The HLL/CMS twins are the
    * fixed-memory alternatives when exact counts aren't required;
    * top-k ranking happens on the drained batch frame, never inside
    * the stream. */
  def vocabCountStream(df: DataFrame,
      text: org.apache.spark.sql.Column): DataFrame =
    installed(df).select(explode(split(lower(text), " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** Drain a streaming frame with `Trigger.AvailableNow` and return
    * the result as a batch frame — the harness that puts the STREAMING
    * engine (state store included) under a batch-oracle compare.
    *
    * The drain is a foreachBatch parquet write, read back after
    * termination: fully DISTRIBUTED, so the result never funnels
    * through the driver. The earlier memory sink collected every
    * batch's complete output to the driver and died on
    * `spark.driver.maxResultSize` at the sf100eq probe's 15M distinct
    * passages — the harness was the bottleneck, not the stateful agg
    * (SCALE.md third-decade rule, driver edition: consumer surfaces
    * must scale too). Production streams write through foreachBatch
    * to the block sink ([[BlockWriter]]) — same shape as this drain.
    *
    * Two settings follow from `df`'s analyzed plan, so no caller
    * passes them:
    *  - OUTPUT MODE: `complete` when the plan holds a streaming
    *    aggregate (each batch overwrites the output, and the last one
    *    IS the final aggregate), `append` otherwise (the output
    *    accumulates every batch's rows). Spark's unsupported-operation
    *    check rejects a wrong mode at start, so a plan this rule
    *    misreads fails loudly instead of draining a different result.
    *  - NO-DATA BATCH: the engine's watermark-commit batch
    *    (`spark.sql.streaming.noDataMicroBatches.enabled`) runs only
    *    when the plan holds a stream-stream join that is not inner,
    *    whose unmatched rows are emitted only when the watermark
    *    advances. Every other plan emits nothing in it: an inner join
    *    emits on arrival, a complete-mode snapshot is already whole
    *    after the last data batch, and stateless maps and deduplication
    *    finalize nothing. Yet each such batch pays a full trigger
    *    (state reload and commit on every shard, a foreachBatch job),
    *    measured as expensive as a data batch on the stream-stream
    *    join, so those drains skip it.
    *
    * CONTRACT: a `flatMapGroupsWithState` whose timeout branch EMITS
    * rows is outside this rule (it would need the no-data batch to
    * fire its last timeouts). Every fMGWS this engine defines either
    * runs with `NoTimeout` or only evicts state on timeout.
    *
    * `rocksdbState` and `statePartitions` are documented where the
    * drain applies them ([[drainConfs]]). */
  def runAvailableNow(df: DataFrame, rocksdbState: Boolean = false,
      // statePartitions: state-shard count for THIS drain (streaming
      // state shards = shuffle partitions at query start, FIXED by the
      // checkpoint — AQE cannot coalesce them, so the session-wide
      // cores-sized default is wrong for metadata-sized state: a
      // 5-key fMGWS fold on 32 shards pays 27 empty stores' load +
      // commit every trigger, at ANY cluster size. Pass the query's
      // own key-cardinality bound (e.g. |event types| -> 8); for
      // corpus-cardinality state pass [[corpusStateShards]] (input-
      // size-derived, capped at the session setting — shards still
      // scale with the cluster at real corpus sizes); None keeps the
      // session default. The per-trigger cost is linear in shard
      // count — measured 1.8 -> 1.0 s/trigger going 32 -> 4 on the
      // replay-agg drain, and 8 cores BEAT 32 on every session-default
      // corpus drain at sf0.1 before the r17 bound (SCALE.md r17
      // crossover table).
      statePartitions: Option[Int] = None): DataFrame = {
    val saveMode = if (aggregates(df)) "overwrite" else "append"
    val out = drain(df, "graft_stream_", rocksdbState, statePartitions) {
      (batch, out) => batch.write.mode(saveMode).parquet(out)
    }
    readBack(df.sparkSession, out, df.schema)()
  }

  /** Scale-ADAPTIVE state-shard bound for CORPUS-cardinality drains
    * (r17; the guide §2.2 partition-sizing rule applied to streaming
    * state, which AQE cannot coalesce): shards =
    * clamp(ceil(inputBytes / targetBytesPerShard), floor, session
    * shuffle partitions — the cap drainConfs already enforces).
    * Streaming state shards are FIXED at query start by the
    * checkpoint, and every shard pays store load + commit on every
    * trigger (measured linear in shard count, r16; still the dominant
    * term with changelog checkpointing: the graded maintenance drain
    * ran 4.9 s at 8 shards vs 11.6 s at 32 on identical bytes, r17
    * core sweep). The session default (= cluster cores) is right when
    * state is corpus-sized — but "corpus-sized" is a property of the
    * INPUT, so derive the shard count from the input's bytes instead
    * of assuming every corpus is big: a 100 TB table clears the cap
    * and keeps today's cluster-scaled shards (this rule is a no-op at
    * scale BY CONSTRUCTION, like Dedup.spreadIfNarrow), a bench-scale
    * table stops paying 32 stores' per-trigger machinery to hold
    * kilobytes of state. `floor` keeps the per-trigger fold parallel
    * even for tiny inputs (8 measured best-or-equal at every probed
    * size; 4 was slower — the fold serializes). NOT local tuning: the
    * knob is derived from data size with a production-sane per-shard
    * target, the same rule AQE applies to batch shuffles.
    *
    * Key-cardinality drains (the 5-key event folds) keep their
    * explicit key-space bound — that rule is stronger. */
  def corpusStateShards(spark: SparkSession, inputPath: String,
      targetBytesPerShard: Long = 32L << 20, floor: Int = 8): Option[Int] = {
    val bytes =
      try {
        val p = new org.apache.hadoop.fs.Path(inputPath)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.getContentSummary(p).getLength
      } catch { case _: java.io.IOException => return None } // unknown: keep default
    val n = math.max(floor.toLong,
      (bytes + targetBytesPerShard - 1) / targetBytesPerShard)
    Some(math.min(n, Int.MaxValue.toLong).toInt) // drainConfs caps at session
  }

  /** True when `df`'s analyzed plan holds a streaming aggregate: the
    * drain then runs in `complete` mode (see [[runAvailableNow]]). */
  private def aggregates(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a.isStreaming
      case _ => false
    }

  /** True when `df`'s analyzed plan holds a stream-stream join that is
    * not inner: only then does the drain run the no-data batch (see
    * [[runAvailableNow]]). */
  private def outerStreamJoin(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.left.isStreaming && j.right.isStreaming &&
          j.joinType != org.apache.spark.sql.catalyst.plans.Inner
      case _ => false
    }

  /** The session confs one drain of `df` runs under. A streaming query
    * captures them when it starts (StreamExecution clones the session),
    * so [[drain]] sets them around `.start()` alone through
    * [[graft.core.Sessions.withConfs]], which restores them before the
    * first trigger runs.
    *
    *  - `rocksdbState`: keyed state goes through the RocksDB provider —
    *    REQUIRED when state cardinality is corpus-sized (the
    *    boilerplate df pass holds one entry per DISTINCT PASSAGE: ~28M
    *    at the sf100eq probe OOM'd the default memory-backed store at
    *    16g; RocksDB spills to disk and is also FASTER there: 67.1 s vs
    *    85.6 s in-memory at the 4M-entry band-state measurement,
    *    SCALE.md r14) — with changelog checkpointing (r17): by default
    *    EVERY RocksDB commit uploads a full store snapshot per shard
    *    per trigger — measured 43-51 s of summed per-shard commit time
    *    per data batch on the maintenance drain (32 shards) vs 8-15 s
    *    with changelog mode, which writes only the trigger's delta and
    *    leaves snapshotting to background maintenance. Result-neutral
    *    by construction: only the CHECKPOINT FORMAT changes, and every
    *    drain starts from a fresh checkpoint. Wall on the graded pair:
    *    mm_phash_maintenance_stream 15.0 -> 9.6 s warm.
    *  - `spark.sql.streaming.noDataMicroBatches.enabled` is set from
    *    the plan: `true` only for a non-inner stream-stream join.
    *  - `statePartitions` is the caller's KEY-CARDINALITY bound; it
    *    never EXCEEDS the session's own shuffle-partition setting (a
    *    low-core session would otherwise get MORE state shards than its
    *    default — the bound is a ceiling on useful shards, not a
    *    floor). */
  private def drainConfs(df: DataFrame, rocksdbState: Boolean,
      statePartitions: Option[Int]): Seq[(String, String)] = {
    val sessionShuffle = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    (if (!rocksdbState) Nil
     else Seq(
       "spark.sql.streaming.stateStore.providerClass" ->
         "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
       "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
         "true")) ++
    Seq("spark.sql.streaming.noDataMicroBatches.enabled" -> outerStreamJoin(df).toString) ++
    statePartitions.map(n =>
      "spark.sql.shuffle.partitions" -> math.min(n, sessionShuffle).toString)
  }

  /** The one `Trigger.AvailableNow` drain behind [[runAvailableNow]],
    * [[hashDedupIncrementalStream]] and [[hashDedupMaintStream]]:
    * installs the streaming session settings, makes a fresh `<prefix>`
    * temp root, starts `df` under [[drainConfs]] in the output mode its
    * plan calls for, with its checkpoint at `<root>/ckpt`, runs it to
    * exhaustion and hands every micro-batch to `sink` together with the
    * output path `<root>/out`, which it returns.
    *
    * The drained output must outlive this call (the returned frame
    * reads it lazily), so reclamation is a JVM-exit hook — without it
    * every drain leaks its checkpoint + output on disk FOREVER across
    * JVMs (found as 24 GB of orphaned graft_stream_ dirs after a probe
    * campaign; at probe scale a single drain is gigabytes). */
  private def drain(df: DataFrame, prefix: String, rocksdbState: Boolean,
      statePartitions: Option[Int])(sink: (DataFrame, String) => Unit): String = {
    val spark = df.sparkSession
    StreamingSession.install(spark)
    val root = java.nio.file.Files.createTempDirectory(prefix)
    sweepOnExit(root)
    val out = root.resolve("out").toString
    graft.core.Sessions.withConfs(spark, drainConfs(df, rocksdbState, statePartitions)) {
      df.writeStream.outputMode(if (aggregates(df)) "complete" else "append")
        .foreachBatch { (batch: DataFrame, _: Long) => sink(batch, out) }
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }.awaitTermination()
    out
  }

  /** A drain's output through `read` (by default its parquet), or an
    * empty frame of `schema` when the stream emitted nothing and `out`
    * was never written. */
  private def readBack(spark: SparkSession, out: String, schema: StructType)(
      read: => DataFrame = spark.read.parquet(out)): DataFrame =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(out))) read
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Register one JVM shutdown hook that recursively deletes every
    * drain directory created this session (newest-first is
    * irrelevant; deletion failures are swallowed — a best-effort
    * sweep of temp space, never a correctness surface). */
  private val drainDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val drainSweeper: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      // stdout, not stderr: sbt prefixes stderr lines with [error],
      // which made this routine reclamation notice read as a failure
      // in every gate log
      println(s"[graft] drain sweeper: ${drainDirs.size} dirs")
      drainDirs.forEach { p =>
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(f => try java.nio.file.Files.deleteIfExists(f)
              catch { case _: Throwable => () })
        } catch { case _: Throwable => () }
      }
    }, "graft-drain-sweeper"))
  }
  private[graft] def sweepOnExit(p: java.nio.file.Path): Unit = {
    drainSweeper
    drainDirs.add(p)
  }

  /** `ds`, after [[StreamingSession.install]] on its session: every
    * builder here passes its input through this, so a query started on
    * the result checkpoints without process forks and shares the
    * session's executor classloader, and with it the codegen cache. */
  private def installed[T](ds: Dataset[T]): Dataset[T] = {
    StreamingSession.install(ds.sparkSession)
    ds
  }

  case class DocEvent(docId: Long, tsUs: Long, text: String)
  /** Per-band verdict: `matchedId` = smallest already-seen doc in this
    * band bucket with estimated Jaccard >= threshold, or -1. */
  case class BandVerdict(docId: Long, tsUs: Long, bidx: Int, matchedId: Long)

  /** Streaming MinHash near-dup dedup — the streaming twin of
    * `Dedup.minhashSignatures` + `Dedup.minhashLshPairs` (the
    * reference's Kappa stance, `docs/featurizer-overview.md:9-10`,
    * applied to the LLM-pipeline operators: same dedup online and
    * offline). Each arriving document computes its signature in the
    * stateless map (zero extra shuffle, identical bits to the batch
    * path via `Dedup.minhashSigOf`), explodes into `bands` band rows,
    * and each band bucket holds the in-window signatures of the docs
    * that landed there — state is sharded by (band, bucket-hash)
    * exactly like the batch band join, so a 100 TB-scale stream spreads
    * state across the cluster instead of concentrating it.
    *
    * Semantics: a doc matches if ANY band bucket contains an earlier
    * doc whose full-signature matching fraction >= `estThreshold` —
    * earlier = (tsUs, docId) order, all seen docs retained in-window
    * whether or not they themselves were duplicates. That is exactly
    * the batch `minhashLshPairs(...)` pair set restricted to a_id <
    * b_id, so batch parity is checkable pairwise (StreamingSpec does).
    * Collapse the per-band verdicts to per-doc survivors with
    * [[collapseNearDupVerdicts]] (stateless per micro-batch: a doc's
    * band rows never split across triggers).
    *
    * Eviction (same discipline as [[exactDedupStream]]): stored
    * signatures whose event time falls behind the watermark are pruned
    * on every bucket visit, and idle buckets die via event-time
    * timeout — bounded state (perms longs per in-window doc per band).
    * The trade is the same: a near-dup arriving after the watermark
    * window re-emits. Ordering contract across micro-batches matches
    * the other stateful twins (arrival order = event order; within a
    * batch rows are sorted here).
    */
  def minhashDedupStream(ds: Dataset[DocEvent], perms: Int, bands: Int,
      estThreshold: Double, watermarkDelayMs: Long,
      shingleN: Int = 3, maxBucket: Int = Int.MaxValue,
      baseHash: graft.operators.Dedup.BaseHash =
        graft.operators.Dedup.XxHash): Dataset[BandVerdict] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.LongType
    import org.apache.spark.unsafe.types.UTF8String
    val rows = perms / bands
    require(bands * rows == perms, "perms must divide into bands")
    val (as, bs) = graft.operators.Dedup.minhashCoefficients(perms)

    // (bucketKey, docId, tsUs, sig, eventTs): one row per (doc, band).
    // Bucket key folds (bidx, band slice) through xxhash64 with the
    // accumulated-seed rule — the same combination catalyst's
    // multi-column xxhash64 applies in the batch band join.
    val bandRows = installed(ds).flatMap { d =>
      val lowered = UTF8String.fromString(d.text).toLowerCase.toString
      graft.operators.Dedup.minhashSigOf(lowered, as, bs, shingleN,
          baseHash) match {
        case None => Iterator.empty
        case Some(sig) =>
          (0 until bands).iterator.map { bidx =>
            var h = 42L
            h = XxHash64Function.hash(bidx.toLong, LongType, h)
            var i = bidx * rows
            while (i < (bidx + 1) * rows) {
              h = XxHash64Function.hash(sig(i), LongType, h); i += 1
            }
            (h, bidx, d.docId, d.tsUs, sig, new java.sql.Timestamp(d.tsUs / 1000))
          }
      }
    }.toDF("bucket", "bidx", "docId", "tsUs", "sig", "eventTs")
      .withWatermark("eventTs", s"$watermarkDelayMs milliseconds")
      .as[(Long, Int, Long, Long, Array[Long], java.sql.Timestamp)]

    val match_ : (Array[Long], Array[Long]) => Boolean = (a, b) => {
      var eq = 0
      var i = 0
      while (i < perms) { if (a(i) == b(i)) eq += 1; i += 1 }
      eq.toDouble / perms >= estThreshold
    }
    bandDedupStream(bandRows, match_, watermarkDelayMs, maxBucket)
  }

  /** Streaming SimHash near-dup dedup — the SimHash leg of the Kappa
    * twin pair (same shape as [[minhashDedupStream]]): per-doc simhash
    * in the stateless map (identical bits to batch via the shared
    * `Dedup.simhashOf`; null text is dropped), band rows from
    * [[hammingBands]], the batch `simhashPairs` band tier
    * (pigeonhole-exact for hamming <= maxDist <= 6), bucket state +
    * watermark eviction in the shared engine. A doc matches when any
    * bucket holds an earlier doc within `maxDist` — the batch
    * `simhashPairs(sigs, maxDist)` pair set restricted to a_id < b_id
    * (StreamingSpec parity). */
  def simhashDedupStream(ds: Dataset[DocEvent], maxDist: Int,
      watermarkDelayMs: Long, maxBucket: Int = Int.MaxValue,
      baseHash: graft.operators.Dedup.BaseHash =
        graft.operators.Dedup.XxHash): Dataset[BandVerdict] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    val sigs = ds.flatMap { d =>
      if (d.text == null) Iterator.empty
      else Iterator((d.docId, d.tsUs, graft.operators.Dedup.simhashOf(
        UTF8String.fromString(d.text).toLowerCase.toString, baseHash)))
    }
    bandDedupStream(hammingBands(sigs, maxDist, watermarkDelayMs),
      hammingWithin(maxDist), watermarkDelayMs, maxBucket)
  }

  /** The band frame the Hamming streams share: one (bucket, bidx,
    * docId, tsUs, sig, eventTs) row per (doc, band), watermarked on
    * eventTs. The band tier is the batch explode's (4 disjoint chunk
    * pairs at radius <= 3, C(8,2) at <= 6, which it requires), and the
    * bucket key is the batch `simhashChunks` bit layout, single-sourced
    * in Dedup.chunkPairVal/packBandKey: the combo index in the high
    * bits, so keys never collide across bands. */
  private def hammingBands(ds: Dataset[(Long, Long, Long)] /* docId, tsUs, hash */ ,
      maxDist: Int, watermarkDelayMs: Long)
      : Dataset[(Long, Int, Long, Long, Array[Long], java.sql.Timestamp)] = {
    import ds.sparkSession.implicits._
    val combos = graft.operators.Dedup.chunkPairCombos(maxDist)
    installed(ds).flatMap { case (did, tsUs, sig) =>
      combos.iterator.zipWithIndex.map { case ((i, j), idx) =>
        (graft.operators.Dedup.packBandKey(idx,
            graft.operators.Dedup.chunkPairVal(sig, i, j)),
          idx, did, tsUs, Array(sig),
          new java.sql.Timestamp(tsUs / 1000))
      }
    }.toDF("bucket", "bidx", "docId", "tsUs", "sig", "eventTs")
      .withWatermark("eventTs", s"$watermarkDelayMs milliseconds")
      .as[(Long, Int, Long, Long, Array[Long], java.sql.Timestamp)]
  }

  /** The Hamming verify of a [[hammingBands]] bucket: the two
    * signatures differ in at most `maxDist` bits. */
  private def hammingWithin(maxDist: Int): (Array[Long], Array[Long]) => Boolean =
    (a, b) => java.lang.Long.bitCount(a(0) ^ b(0)) <= maxDist

  /** Streaming near-dup dedup over PRECOMPUTED 64-bit Hamming
    * signatures — the perceptual-media leg of the Kappa twin family:
    * where [[simhashDedupStream]] signs TEXT in its stateless map, the
    * caller here has already decoded media and hashed it (image dHash
    * / DCT hash, audio fingerprint — the expensive part, embarrassingly
    * parallel, still ingest-side), and this operator supplies the band
    * state. Banding follows the batch `Dedup.simhashChunks` tier rule:
    * 4 DISJOINT chunk pairs for maxDist <= 3 (pigeonhole-exact, 1/7
    * the band rows — the tier the skewed perceptual-hash populations
    * need), C(8,2) pairs for <= 6. A doc matches when any bucket holds
    * an earlier doc within `maxDist` — the batch pair set restricted
    * to a_id < b_id, the same min-fold oracle as the text twins.
    *
    * VERDICT PARITY with the batch pair set is EXACT only while no
    * band bucket exceeds `maxBucket` (the slicing law, SCALE.md r14):
    * above the cap, the stream's first-writer retention and the batch
    * operator's md5-threshold keep select DIFFERENT candidate subsets,
    * so capped recall is an engine- and slicing-dependent lower bound
    * on the true duplicate set; flagged duplicates are real under any
    * slicing (matching never fabricates). Run the stream uncapped
    * (the default) against a capped batch and the stream's verdicts
    * are a superset. */
  def hashDedupStream(ds: Dataset[(Long, Long, Long)] /* docId, tsUs, hash */ ,
      maxDist: Int, watermarkDelayMs: Long,
      maxBucket: Int = Int.MaxValue): Dataset[BandVerdict] =
    bandDedupStream(hammingBands(ds, maxDist, watermarkDelayMs),
      hammingWithin(maxDist), watermarkDelayMs, maxBucket)

  /** The in-stream half of [[hashDedupIncrementalStream]] — the
    * [[hashDedupStream]] band state with the SIGNATURE riding each
    * verdict row: (docId, tsUs, bidx, matchedId, sig). Exposed
    * separately so a spec (or a custom sink) can drive its own
    * multi-trigger query and feed each micro-batch to
    * [[incrementalBatchFold]]. */
  def hashDedupIncrementalVerdicts(
      ds: Dataset[(Long, Long, Long)] /* docId, tsUs, hash */ ,
      maxDist: Int, watermarkDelayMs: Long,
      stateMaxBucket: Int = Int.MaxValue)
      : Dataset[(Long, Long, Int, Long, Long)] = {
    import ds.sparkSession.implicits._
    bandDedupStreamGen(hammingBands(ds, maxDist, watermarkDelayMs),
      hammingWithin(maxDist), watermarkDelayMs, stateMaxBucket,
      (did, ts, bidx, matched, _, sig) => (did, ts, bidx, matched, sig(0)))
  }

  /** [[hashDedupStream]]'s ALL-MATCHES sibling: one row per (doc,
    * band) carrying EVERY earlier in-state id within `maxDist` — the
    * engine leg for verdicts that are not a min-fold, e.g. the video
    * rollup ("earlier video sharing >= minMatches keyframes"), where
    * a per-row min would undercount multi-keyframe evidence. Same
    * banding tier, same state discipline as [[hashDedupStream]]. */
  def hashMatchStream(ds: Dataset[(Long, Long, Long)] /* docId, tsUs, hash */ ,
      maxDist: Int, watermarkDelayMs: Long,
      maxBucket: Int = Int.MaxValue)
      : Dataset[(Long, Long, Int, Array[Long])] = {
    import ds.sparkSession.implicits._
    bandDedupStreamGen(hammingBands(ds, maxDist, watermarkDelayMs),
      hammingWithin(maxDist), watermarkDelayMs, maxBucket,
      (did, ts, bidx, _, all, _) => (did, ts, bidx, all), collectAll = true)
  }

  /** Per-video collapse of [[hashMatchStream]] verdicts over PACKED
    * (video*16 + keyframe) ids — the ingest-time twin of the
    * mm_video_dups rollup: distinct matched keyframe pairs, unpacked
    * to video pairs (own-video pairs excluded), counted per
    * (earlier, arriving) video pair; dup_of = the smallest earlier
    * video sharing >= `minMatches` near-matching keyframes, null for
    * survivors. Stateless per drained frame (a video's keyframes and
    * all their matches land in its arrival trigger). */
  def collapseVideoDupVerdicts(verdicts: DataFrame,
      minMatches: Int = 2): DataFrame = {
    val m = verdicts
      .select(col("docId"), explode(col("matched")).as("m"))
      .distinct() // same packed pair can match in several bands
      .select(expr("docId div 16").as("b_vid"), expr("m div 16").as("a_vid"))
      .filter(col("a_vid") =!= col("b_vid"))
      .groupBy(col("b_vid"), col("a_vid"))
      .agg(count(lit(1)).as("matches"))
      .filter(col("matches") >= minMatches)
      .groupBy(col("b_vid").as("doc_id"))
      .agg(min(col("a_vid")).as("dup_of"))
    verdicts.select(expr("docId div 16").as("doc_id")).distinct()
      .join(m, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"))
  }

  /** The per-micro-batch fold of [[hashDedupIncrementalStream]]: from
    * one trigger's (docId, tsUs, bidx, matchedId, sig) band verdicts,
    * the batch's per-doc incremental verdict frame — dup_of_index via
    * [[graft.operators.Dedup.hashIndexDupIds]] against the STORED
    * band index (the same plan shape as the batch operator: store the
    * index bucketed on (cidx, cval) and it never re-shuffles),
    * dup_of_batch_earlier by collapsing the fMGWS band verdicts (which
    * cover BOTH earlier micro-batches and earlier arrivals inside this
    * one). A doc's band rows never split across triggers, so the fold
    * is complete per batch and verdict frames append across triggers
    * into exactly one row per arriving doc. */
  def incrementalBatchFold(batch: DataFrame, indexChunks: DataFrame,
      maxDist: Int,
      maxBucket: Int = graft.operators.Dedup.SimhashHotBucketCap)
      : DataFrame = {
    val dupBatch = batch.groupBy(col("docId").as("doc_id"))
      .agg(max(col("matchedId") >= 0).as("dup_of_batch_earlier"))
    val dupIdx = graft.operators.Dedup.hashIndexDupIds(
        batch.select(col("docId").as("doc_id"), col("sig").as("simhash"))
          .distinct(),
        indexChunks, maxDist, maxBucket)
      .withColumn("dup_idx", lit(true))
    dupBatch.join(dupIdx, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_idx"), lit(false)).as("dup_of_index"),
        col("dup_of_batch_earlier"),
        (!coalesce(col("dup_idx"), lit(false))
          && !col("dup_of_batch_earlier")).as("keep"))
  }

  /** INGEST-TIME incremental perceptual dedup — the composition the
    * two r13 pieces exist for (r13 verdict #1): each arriving media
    * hash is checked against a PERSISTED band index (the
    * BucketedStore table an earlier ingest built —
    * [[graft.operators.Dedup.simhashChunks]] stored bucketed on its
    * (cidx, cval) join keys) AND against earlier arrivals (the
    * [[hashDedupStream]] fMGWS band state, spanning micro-batches).
    * The K2/BlockWriter discipline applied to the dedup index: the
    * stream drains through foreachBatch, each trigger's verdicts fold
    * via [[incrementalBatchFold]] and append; the result is one
    * (doc_id, dup_of_index, dup_of_batch_earlier, keep) row per
    * arriving doc — the SAME verdict frame (and the same shared SQL
    * oracle) as the batch `incrementalNearDupHashes`.
    *
    * VERDICT-PARITY CONTRACT (the 15M-probe slicing law, SCALE.md
    * r14): parity with the batch operator is EXACT only while no band
    * bucket exceeds `maxBucket` / `stateMaxBucket` — the graded
    * regime. ABOVE a cap, verdicts are slicing-dependent BY
    * CONSTRUCTION: the md5-threshold keep set is a function of
    * per-evaluation bucket size, so each trigger caps its own smaller
    * buckets and capped recall becomes a LOWER BOUND on the batch
    * census that improves monotonically with finer slicing (measured:
    * dup_of_index 341,808 at 4 triggers vs 340,069 at 1 trigger =
    * the batch census, 15M×1M probe). Duplicates the stream flags
    * are real either way (matching never fabricates); only RECALL
    * under the cap moves.
    *
    * Scale shape: the decode+hash ran upstream in the caller's
    * stateless map (embarrassingly parallel at ingest); in-stream
    * state is sharded by band bucket (RocksDB for corpus-sized
    * drains); the index join shuffles ONLY the micro-batch side
    * because the stored index scan reports the join's partitioning.
    * Index MAINTENANCE stays with the caller (append keepers' chunks
    * via BucketedStore.append after the drain — the
    * ev_stream_block_sink compaction policy applies). */
  def hashDedupIncrementalStream(ds: Dataset[(Long, Long, Long)],
      maxDist: Int, watermarkDelayMs: Long, indexChunks: DataFrame,
      maxBucket: Int = graft.operators.Dedup.SimhashHotBucketCap,
      stateMaxBucket: Int = Int.MaxValue,
      // default TRUE (r14 verdict #3): the fMGWS band state here is
      // CORPUS-cardinality — exactly the class the r7 rule routes to
      // RocksDB, now with a wall-clock leg too (67.1 s RocksDB vs
      // 85.6 s in-memory at 4M entries on top of the OOM risk). A
      // caller taking the default gets the rule, not the trap.
      rocksdbState: Boolean = true,
      // corpus-cardinality state: callers that know their input's size
      // pass [[corpusStateShards]]; None keeps the session default
      statePartitions: Option[Int] = None): DataFrame = {
    val spark = ds.sparkSession
    val verdicts = hashDedupIncrementalVerdicts(ds, maxDist,
        watermarkDelayMs, stateMaxBucket)
      .toDF("docId", "tsUs", "bidx", "matchedId", "sig")
    val out = drain(verdicts, "graft_incr_stream_", rocksdbState,
        statePartitions) {
      (batch0, out) =>
        // persist the trigger's verdicts ONCE: the fold consumes
        // them twice (per-doc agg + the index-join leg), and each
        // un-persisted consumption re-runs the whole fMGWS state
        // pass — measured 64.3 -> 47.3 s (-26%) on the 15M x 1M
        // 4-trigger probe (SCALE.md r15), censuses identical
        val batch = batch0.persist()
        try incrementalBatchFold(batch, indexChunks, maxDist, maxBucket)
          .write.mode("append").parquet(out)
        finally batch.unpersist()
    }
    readBack(spark, out, VerdictSchema)()
  }

  /** The (doc_id, dup_of_index, dup_of_batch_earlier, keep) frame of
    * [[incrementalBatchFold]]: the incremental drains' result. */
  private val VerdictSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("dup_of_index", BooleanType),
    StructField("dup_of_batch_earlier", BooleanType),
    StructField("keep", BooleanType)))

  /** The STREAMING MAINTENANCE LOOP (r14 verdict #6):
    * [[hashDedupIncrementalStream]] with IN-LOOP index appends — the
    * production composition where each trigger's keepers join the
    * persisted index BEFORE the next trigger folds, so a day-2 arrival
    * near a day-1 keeper is `dup_of_index` (not merely
    * `dup_of_batch_earlier` via band state), exactly the batch-batch
    * `mm_phash_index_maintenance` cycle run at ingest cadence.
    *
    * Per trigger, in order (the read-frozen discipline PER TRIGGER):
    * fold the trigger's band verdicts against the index table's
    * CURRENT files; FREEZE the fold (eager localCheckpoint — the
    * read-your-own-writes trap: appending first would let this
    * trigger's keepers find themselves when the lazy fold plan
    * re-executes); emit the frozen verdicts; then
    * [[graft.sources.BucketedStore.append]] the keepers' band chunks
    * (bucket spec restated from the catalog, co-location preserved).
    * Apply [[graft.sources.BucketedStore.compactBuckets]] on a
    * maintenance cadence — every append adds one file per touched
    * bucket, and index-scan cost grows with file count.
    *
    * Verdict semantics vs the plain incremental stream: dup_of_index
    * additionally covers keepers of EARLIER TRIGGERS (index growth is
    * the point); dup_of_batch_earlier is unchanged (band state already
    * spans triggers). The slicing caveat of
    * [[hashDedupIncrementalStream]] applies, plus one more by design:
    * trigger boundaries decide WHICH verdict flags a cross-trigger
    * dup carries (index vs batch-earlier), so the graded query pins
    * its slicing with one file per trigger.
    *
    * `compactAtFilesPerBucket` (r15 verdict #2) makes the drain
    * SELF-COMPACTING: every append adds one file per touched bucket,
    * so a long-running drain walks straight into the measured
    * file-count wall (~2x verdict scan after 10 appends at 50M,
    * SCALE.md r15) — Some(k) runs
    * [[graft.sources.BucketedStore.compactIfFragmented]] after each
    * trigger's append (compaction is verdict-neutral by construction
    * and the trigger's fold is already frozen, so mid-drain rewrites
    * change nothing a later trigger can see except scan cost), and
    * the drain vacuums superseded dirs once the stream terminates —
    * safe because a MAINTAINING drain is the table's single writer
    * and its own reads re-resolve per trigger; an external reader
    * must not overlap a maintaining drain anyway (appends move its
    * verdict base).
    *
    * CHOOSE k IN APPENDS, NOT FILES (r16, measured from all three
    * sides at 15M x 1M x 4 triggers, SCALE.md r16): one streaming
    * append writes one file per touched bucket PER WRITE TASK
    * (~35/bucket/trigger there), so a naive k = 10 fires a FULL
    * index rewrite every trigger — measured ~2x SLOWER than staying
    * fragmented (310 vs 157 s; the rewrite never amortizes inside
    * one short drain). The r15 O(10) rule counts APPENDS: set
    * k ~ filesAddedPerAppend x 10. At the probe's cadence that is
    * k ~ 350 — the drain then recovered a pre-fragmented (11,264
    * file) index ONCE in-loop and finished 9% faster than the
    * fragmented control, ending at 3.1k files instead of 15.4k for
    * every subsequent reader. */
  def hashDedupMaintStream(ds: Dataset[(Long, Long, Long)],
      maxDist: Int, watermarkDelayMs: Long, indexTable: String,
      maxBucket: Int = graft.operators.Dedup.SimhashHotBucketCap,
      stateMaxBucket: Int = Int.MaxValue,
      rocksdbState: Boolean = true,
      compactAtFilesPerBucket: Option[Int] = None,
      statePartitions: Option[Int] = None): DataFrame = {
    val spark = ds.sparkSession
    val verdicts = hashDedupIncrementalVerdicts(ds, maxDist,
        watermarkDelayMs, stateMaxBucket)
      .toDF("docId", "tsUs", "bidx", "matchedId", "sig")
    val out = drain(verdicts, "graft_maint_stream_", rocksdbState,
        statePartitions) {
      (batch0, out) =>
        val s = batch0.sparkSession
        // one materialization instead of THREE state passes (fold
        // consumes the trigger twice, the keeper join a third time)
        // — measured 77.7 -> 59.7 s (-23%) at the 15M probe
        val batch = batch0.persist()
        try {
          val fold = incrementalBatchFold(batch,
              graft.sources.BucketedStore.read(s, indexTable),
              maxDist, maxBucket)
            .localCheckpoint() // EAGER: freeze before the append below
          fold.write.mode("append").parquet(out)
          val keeperSigs = batch
            .select(col("docId").as("doc_id"), col("sig").as("simhash"))
            .distinct()
            .join(fold.filter(col("keep")).select("doc_id"), Seq("doc_id"))
          graft.sources.BucketedStore.append(
            graft.operators.Dedup.simhashChunks(keeperSigs, maxDist),
            indexTable)
          // in-loop hygiene: the next trigger re-resolves the table,
          // so a fired compact changes only its scan cost
          compactAtFilesPerBucket.foreach(k =>
            graft.sources.BucketedStore.compactIfFragmented(s,
              indexTable, k))
        } finally batch.unpersist()
    }
    if (compactAtFilesPerBucket.isDefined)
      graft.sources.BucketedStore.vacuumBuckets(spark, indexTable)
    readBack(spark, out, VerdictSchema)()
  }

  /** The shared band-bucket dedup engine behind [[minhashDedupStream]]
    * and [[simhashDedupStream]]: keyed fMGWS over (bucket -> in-window
    * signatures), emitting one [[BandVerdict]] per (doc, band) row.
    * `matches` judges a candidate pair from the two stored signature
    * arrays. Eviction = watermark prune on every visit + event-time
    * timeout for idle buckets; `maxBucket` is the hot-bucket guard (a
    * bucket at capacity stops RETAINING new signatures but still judges
    * arrivals against the retained set — state and per-arrival compare
    * cost stay O(maxBucket), and a degenerate all-identical stream
    * still flags every duplicate against the retained first writer). */
  private def bandDedupStream(
      bandRows: Dataset[(Long, Int, Long, Long, Array[Long], java.sql.Timestamp)],
      matches: (Array[Long], Array[Long]) => Boolean,
      watermarkDelayMs: Long, maxBucket: Int): Dataset[BandVerdict] = {
    import bandRows.sparkSession.implicits._
    bandDedupStreamGen(bandRows, matches, watermarkDelayMs, maxBucket,
      (did, ts, bidx, matched, _, _) => BandVerdict(did, ts, bidx, matched))
  }

  /** The band-bucket engine generalized over its OUTPUT shape: `emit`
    * builds one row per (doc, band) from (docId, tsUs, bidx,
    * matchedId, allMatches, signature). The incremental-stream
    * composition needs the signature to RIDE the verdict (its
    * foreachBatch fold band-joins the micro-batch against a stored
    * index — re-deriving the hash downstream would re-decode media);
    * the video twin needs ALL matched earlier ids (its rollup counts
    * matched keyframes per video PAIR — a min cannot); the text twins
    * drop both at zero cost via [[bandDedupStream]]. One engine, one
    * state discipline — the emit shape cannot drift from the matching
    * logic. `collectAll` gates the per-row match-list allocation so
    * min-only callers pay nothing. */
  private def bandDedupStreamGen[
      O: org.apache.spark.sql.Encoder: scala.reflect.ClassTag](
      bandRows: Dataset[(Long, Int, Long, Long, Array[Long], java.sql.Timestamp)],
      matches: (Array[Long], Array[Long]) => Boolean,
      watermarkDelayMs: Long, maxBucket: Int,
      emit: (Long, Long, Int, Long, Array[Long], Array[Long]) => O,
      collectAll: Boolean = false): Dataset[O] = {
    import bandRows.sparkSession.implicits._
    implicit val stateEnc =
      org.apache.spark.sql.Encoders.kryo[Array[(Long, Long, Array[Long])]]
    bandRows
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (bucket: Long,
         rs: Iterator[(Long, Int, Long, Long, Array[Long], java.sql.Timestamp)],
         state: GroupState[Array[(Long, Long, Array[Long])]]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wmMs = state.getCurrentWatermarkMs()
            // buffer, not `seen :+ row`: the immutable append copied
            // the WHOLE bucket array per retained arrival — O(k^2)
            // bytes per hot bucket per trigger. Measured NEUTRAL at the
            // 1M-arrival probe's 4k-rows-per-trigger buckets (67.6 ->
            // 67.1 s — state-store I/O dominates there; SCALE.md r14),
            // kept because a degenerate boilerplate bucket at 100k rows
            // would copy 10^11 bytes under the old form
            val seen = scala.collection.mutable
              .ArrayBuffer.empty[(Long, Long, Array[Long])]
            state.getOption.foreach(_.foreach { e =>
              if (e._2 / 1000 >= wmMs) seen += e
            })
            val sorted = rs.toArray.sortBy(r => (r._4, r._3))
            val out = sorted.map { case (_, bidx, did, ts, sig, _) =>
              var matched = -1L
              var all: scala.collection.mutable.ArrayBuffer[Long] = null
              seen.foreach { case (sid, _, ssig) =>
                // min-only callers keep the old short-circuit: skip the
                // compare when sid cannot improve the current min
                if (sid < did && (collectAll || matched < 0 || sid < matched)
                    && matches(ssig, sig)) {
                  if (matched < 0 || sid < matched) matched = sid
                  if (collectAll) {
                    if (all == null)
                      all = scala.collection.mutable.ArrayBuffer.empty[Long]
                    all += sid
                  }
                }
              }
              if (seen.length < maxBucket) seen += ((did, ts, sig))
              emit(did, ts, bidx, matched,
                if (all == null) Array.empty[Long] else all.toArray, sig)
            }
            state.update(seen.toArray)
            if (seen.nonEmpty) {
              var maxTs = Long.MinValue
              seen.foreach { e => if (e._2 > maxTs) maxTs = e._2 }
              state.setTimeoutTimestamp(
                math.max(maxTs / 1000 + watermarkDelayMs, wmMs + 1))
            }
            out.iterator
          }
        })
  }

  /** Per-doc collapse of [[minhashDedupStream]]'s band verdicts —
    * stateless, run inside foreachBatch (a doc's band rows all land in
    * one trigger). `dup_of` = smallest matched earlier doc, null for
    * survivors. */
  def collapseNearDupVerdicts(verdicts: DataFrame): DataFrame =
    verdicts.groupBy(col("docId"), col("tsUs"))
      .agg(min(when(col("matchedId") >= 0, col("matchedId"))).as("dup_of"))

  case class FeatureEvent(key: String, ts_us: Long, feature: String, value: Double)
  case class CombinedEvent(key: String, ts_us: Long, values: Map[String, Double])

  /** J6 combine_latest (svoe `feature_stream_graph.py:112-119`): one
    * output event per input carrying the latest value of every feature
    * seen so far for the key — last-value-per-feature state in
    * `flatMapGroupsWithState` (checkpointable), replacing streamz's
    * in-process combine_latest node. Batch equivalent: the PIT join.
    */
  def combineLatest(ds: Dataset[FeatureEvent]): Dataset[CombinedEvent] = {
    import ds.sparkSession.implicits._
    installed(ds).groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[FeatureEvent],
         state: GroupState[Map[String, Double]]) => {
          var m = state.getOption.getOrElse(Map.empty[String, Double])
          val out = rows.toArray.sortBy(r => (r.ts_us, r.feature)).map { r =>
            m = m + (r.feature -> r.value)
            CombinedEvent(key, r.ts_us, m)
          }
          state.update(m)
          out.iterator
        })
  }

  case class ValueEvent(key: String, okey: Long, value: Double)
  case class StddevEvent(key: String, okey: Long, value: Double, stddev: Double)

  /** Streaming twin of the sliding-window volatility fold
    * (Preprocess.slidingStddevPop): the stream runner of the same
    * [[KeyedFold.stddevPop]], so the lookback window spans micro-batch
    * boundaries — the batch≡stream parity pair for A2 (the reference's
    * Kappa promise for its sliding features). Window = [okey -
    * rangeUnits, okey]. Events must arrive in okey order ACROSS
    * micro-batches per key ([[KeyedFold.runStream]]'s contract; a
    * regressing batch fails the query).
    */
  def slidingStddevStream(ds: Dataset[ValueEvent], rangeUnits: Long)
      : Dataset[StddevEvent] = {
    import ds.sparkSession.implicits._
    KeyedFold.runStream(ds, (e: ValueEvent) => e.key, KeyedFold.stddevPop(
      KeyedFold.LongField[ValueEvent]("okey", _.okey),
      KeyedFold.DoubleField[ValueEvent]("value", _.value), rangeUnits)(
      // an event's own value is always in its window: never None
      (e, sd) => StddevEvent(e.key, e.okey, e.value, sd.get)))
  }

  case class CentsEvent(key: String, okey: Long, eventId: Long, cents: Long)
  case class AnomalyEvent(key: String, okey: Long, eventId: Long,
      n: Long, isAnomaly: Int)

  /** Streaming twin of the EXACT z-score anomaly flag
    * ([[graft.operators.Preprocess.anomalyExactFold]] /
    * [[graft.operators.WindowOps.anomalyExactFlag]]) — the alert
    * raised AT INGEST by the stream runner of [[KeyedFold.anomaly]]:
    * the same PURE-INTEGER rule (n·x − s)² > z²·(n·ss − s²), no float
    * anywhere, so the drained output is bit-equal to the batch fold
    * PROVIDED batches arrive okey-monotone per key and no trigger
    * boundary splits an equal-okey run (the runner emits on drain and
    * cannot retro-emit: a run split across micro-batches would flag its
    * earlier rows with a partial-run n). The okey-monotone half is
    * ENFORCED by the runner: a batch whose min okey regresses below the
    * key's last one throws IllegalStateException instead of silently
    * mis-evicting. The harness's file sources satisfy the precondition
    * structurally — one sorted file per drain. State per key = the
    * lookback window's rows (16 B each), bounded by lookback x per-key
    * rate. */
  def anomalyExactStream(ds: Dataset[CentsEvent], rangeUnits: Long,
      z: Int): Dataset[AnomalyEvent] = {
    import ds.sparkSession.implicits._
    KeyedFold.runStream(ds, (e: CentsEvent) => e.key, KeyedFold.anomaly(
      KeyedFold.LongField[CentsEvent]("okey", _.okey), (e: CentsEvent) => e.cents,
      rangeUnits, z)((e, n, flag) => AnomalyEvent(e.key, e.okey, e.eventId, n, flag)))
  }

  case class ThrottleEvent(key: String, tsUs: Long, seq: Long, value: Double)

  /** Streaming twin of the elapsed-time throttle
    * (Preprocess.throttleElapsed): the stream runner of the same
    * [[KeyedFold.throttle]], so the suppression window spans
    * micro-batch boundaries — emit only rows >= windowUs after the
    * key's previously EMITTED row. */
  def throttleElapsedStream(ds: Dataset[ThrottleEvent], windowUs: Long)
      : Dataset[ThrottleEvent] = {
    import ds.sparkSession.implicits._
    KeyedFold.runStream(ds, (e: ThrottleEvent) => e.key, KeyedFold.throttle(
      KeyedFold.LongField[ThrottleEvent]("tsUs", _.tsUs),
      KeyedFold.LongField[ThrottleEvent]("seq", _.seq), windowUs))
  }

  case class SidedEvent(key: String, okey: Long, notional: Double, isBuy: Boolean)
  case class TviEvent(key: String, okey: Long, tvi: Option[Double])

  /** Streaming twin of the TVI sliding fold (Preprocess.slidingTvi,
    * WindowOps.tvi, A3): the stream runner of [[KeyedFold.tvi]] over
    * sided notionals, emitting 2(b-s)/(b+s) per event; None when no
    * buy/sell notional is in the window. */
  def slidingTviStream(ds: Dataset[SidedEvent], rangeUnits: Long)
      : Dataset[TviEvent] = {
    import ds.sparkSession.implicits._
    KeyedFold.runStream(ds, (e: SidedEvent) => e.key, KeyedFold.tvi(
      KeyedFold.LongField[SidedEvent]("okey", _.okey),
      KeyedFold.DoubleField[SidedEvent]("buy", e => if (e.isBuy) e.notional else 0.0),
      KeyedFold.DoubleField[SidedEvent]("sell", e => if (e.isBuy) 0.0 else e.notional),
      rangeUnits)((e, v) => TviEvent(e.key, e.okey, v)))
  }

  /** Streaming L2 book: the stream runner of [[L2Book.fold]] —
    * per-instrument state survives across micro-batches
    * (checkpointable), cross-batch order = source order (the
    * reference's own contract). A same-ts update run split across two
    * micro-batches emits a partial snapshot at the first batch's end
    * and the complete one in the next — consumers needing
    * one-snapshot-per-ts should keep the last row per (instrument,
    * ts_us), or the source should deliver same-ts runs atomically (as
    * the reference's emitter does).
    */
  def l2BookStream(updates: Dataset[Update], depth: Int): Dataset[Snapshot] = {
    import updates.sparkSession.implicits._
    KeyedFold.runStream(updates, (u: Update) => u.instrument, L2Book.fold(depth, None))
  }
}
