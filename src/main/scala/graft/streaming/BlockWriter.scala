package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sources.BlockCatalog

/** K2 streaming block sink (svoe `block_writer/block_writer.py:25-123`):
  * the reference buffers events per feature and flushes compacted
  * blocks + catalog rows every 5s on a hand-rolled loop; here it is
  * `writeStream.foreachBatch` into the BlockCatalog on a processing-time
  * trigger. Content-hash idempotency makes at-least-once micro-batch
  * delivery safe (replayed batches are skipped), replacing the
  * reference's hash-exists check at store time.
  *
  * `minRowsPerBlock` is the size-based compaction policy (reference
  * `memory_based_compactor.py:11-51`, row-count proxy for its memory
  * target): micro-batches are persisted and buffered until the target
  * is reached, then flushed as ONE compacted block — small triggers no
  * longer mean small files. DURABILITY CAVEAT: offsets commit when
  * foreachBatch returns, so rows buffered below the target are LOST if
  * the query stops before the next flush — the same at-most-once
  * window as the reference's in-memory compactor. An AvailableNow
  * drain always stops with its last buffer below the target, so
  * `availableNow = true` with `minRowsPerBlock > 0` is rejected. When
  * every row must land, run with minRowsPerBlock=0 (flush per batch,
  * at-least-once via content-hash idempotency; nothing is persisted,
  * since the catalog write runs each micro-batch's plan once) and
  * compact post hoc with `BlockCatalog.compactSmallBlocks`.
  *
  * `start` calls [[StreamingSession.install]] on the frame's session
  * before the query starts. That sets [[LocalCheckpointFileManager]]
  * as the checkpoint manager and `spark.sql.artifact.isolation.enabled`
  * to `false`, so the sink's query checkpoints without process forks
  * and reuses the generated classes earlier queries compiled. The
  * install is session-wide and never overrides a value the user set
  * for either key.
  */
object BlockWriter {

  /** `availableNow = true` swaps the processing-time trigger for
    * `Trigger.AvailableNow` — drain-the-backlog-and-stop, the batch
    * backfill mode (and the mode the driver-oracled
    * `ev_stream_block_sink` runs the sink in). */
  def start(df: DataFrame, catalog: BlockCatalog, definition: String,
      key: String, tsUs: String, triggerMs: Long = 5000L,
      checkpoint: Option[String] = None,
      minRowsPerBlock: Long = 0L,
      availableNow: Boolean = false): StreamingQuery = {
    require(!(availableNow && minRowsPerBlock > 0L),
      "BlockWriter.start: availableNow = true with minRowsPerBlock > 0 " +
      "would drop the last buffered rows when the drain stops; use " +
      "minRowsPerBlock = 0 and compact afterwards with " +
      "BlockCatalog.compactSmallBlocks")
    StreamingSession.install(df.sparkSession)
    val buf = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var buffered = 0L
    val base = df.writeStream
      .outputMode("append")
      .trigger(if (availableNow) Trigger.AvailableNow()
        else Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (minRowsPerBlock <= 0L) {
          // flush-per-batch: the catalog write runs the batch's plan
          // once (hash and stats ride the data write), so a stateful
          // upstream runs once per micro-batch with nothing persisted
          catalog.write(batch, definition, key, tsUs)
          ()
        } else if (!batch.isEmpty) {
          val p = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          buffered += p.count() // materializes the persist
          buf += p
          if (buffered >= minRowsPerBlock) {
            catalog.write(buf.reduce(_ unionByName _), definition, key, tsUs)
            buf.foreach(_.unpersist())
            buf.clear()
            buffered = 0L
          }
        }
      }
    checkpoint.fold(base)(cp => base.option("checkpointLocation", cp)).start()
  }
}
