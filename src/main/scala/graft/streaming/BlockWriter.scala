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
  * Every micro-batch flushes as its own block: the catalog write runs
  * the batch's plan once (hash and stats ride the data write), so a
  * stateful upstream runs once per micro-batch with nothing persisted,
  * and every row lands before its offsets commit. The reference's
  * size-based compaction (`memory_based_compactor.py:11-51`) buffers
  * in memory and loses the buffer when the process stops; here it is
  * post hoc instead: `BlockCatalog.compactSmallBlocks` merges the small
  * blocks afterwards.
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
      availableNow: Boolean = false): StreamingQuery = {
    StreamingSession.install(df.sparkSession)
    val base = df.writeStream
      .trigger(if (availableNow) Trigger.AvailableNow()
        else Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        catalog.write(batch, definition, key, tsUs)
        ()
      }
    checkpoint.fold(base)(cp => base.option("checkpointLocation", cp)).start()
  }
}
