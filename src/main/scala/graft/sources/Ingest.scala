package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Batch ingest pipeline (svoe `data_ingest/pipelines/cryptotick/
  * pipeline.py:103-219` + split logic `df_utils.py:132-160`): raw CSV →
  * schema'd scan → per-source normalization → ts-ordered, size-bounded
  * blocks in the BlockCatalog.
  *
  * The reference hand-rolls threaded download/split/store with
  * in-memory size estimation (27x gzip ratio) and must re-pad L2 splits
  * with synthetic snapshots; here:
  *   - splitting is `repartitionByRange` on ts + `maxRecordsPerFile` —
  *     a range partition never separates equal-ts rows across
  *     partitions (O5's "never split equal-ts runs" invariant holds by
  *     construction at partition granularity);
  *   - snapshot padding is unnecessary (windows span partitions —
  *     SURVEY J2), though `L2Book.replay` tolerates padded inputs;
  *   - idempotency rides on the catalog's content hash.
  */
object Ingest {

  final case class Report(rows: Long, stored: Boolean)

  def ingestCsv(
      spark: SparkSession,
      path: String,
      schema: StructType,
      normalize: DataFrame => DataFrame,
      catalog: BlockCatalog,
      definition: String,
      key: String,
      tsUs: String,
      rowsPerBlock: Long = 1000000L): Report = {
    val raw = spark.read
      .option("header", "true")
      .schema(schema)
      .csv(path)
    ingest(raw, normalize, catalog, definition, key, tsUs, rowsPerBlock)
  }

  def ingest(
      raw: DataFrame,
      normalize: DataFrame => DataFrame,
      catalog: BlockCatalog,
      definition: String,
      key: String,
      tsUs: String,
      rowsPerBlock: Long): Report = {
    val spark = raw.sparkSession
    // one parse of the raw input: the count, the range sampling and
    // the catalog write (which collects hash and stats on its one
    // pass) all reuse the cached frame
    val normalized = normalize(raw)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = normalized.count()
      val parts = math.max(1L, (n + rowsPerBlock - 1) / rowsPerBlock).toInt
      graft.core.Sessions.withConfs(spark,
          Seq("spark.sql.files.maxRecordsPerFile" -> rowsPerBlock.toString)) {
        val blocks = normalized
          .repartitionByRange(parts, col(tsUs))
          .sortWithinPartitions(col(tsUs))
        Report(n, catalog.write(blocks, definition, key, tsUs))
      }
    } finally normalized.unpersist()
  }

  /** Schema'd JSONL (JSON-lines) corpus reader — the raw-document
    * format every web-scale text pipeline ingests from (one JSON object
    * per line; svoe ingests only CSV market data, this is the
    * training-corpus analogue of [[ingestCsv]]'s schema'd scan).
    *
    * The schema is EXPLICIT, never inferred: at 100 TB an inference
    * pass would be a full extra read of the corpus, and drifting raw
    * files must fail loudly, not widen columns silently. Reading is
    * PERMISSIVE with a corrupt-record capture column: a malformed line
    * becomes one quarantined row (returned via the `_corrupt_record`
    * column, all data fields null) instead of killing a 1000-executor
    * job; callers split on `_corrupt_record IS NULL` to route the
    * quarantine. Line-split parallelism is Spark's native text-source
    * splitting — JSONL needs no record re-assembly across block
    * boundaries, so a single huge file still fans out by HDFS block.
    *
    * Spark caveat: a query referencing ONLY `_corrupt_record` over the
    * raw scan is disallowed (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — split
    * the quarantine AFTER a materialization barrier (persist, or the
    * ingest write itself), which is what a production ingest does
    * anyway: parse once, write once, route the split from the parsed
    * result. */
  def readJsonl(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val withCorrupt =
      if (schema.fieldNames.contains("_corrupt_record")) schema
      else schema.add("_corrupt_record",
        org.apache.spark.sql.types.StringType)
    spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
  }
}
