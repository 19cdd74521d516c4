package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed co-location for the PERSISTENT side of recurring joins —
  * the storage half of the 100 TB join strategy (SCALE.md).
  *
  * A table stored hash-bucketed on its join key reports
  * `HashPartitioning(keys, buckets)` from the scan itself, so every
  * subsequent join / aggregate / window clustered on those keys plans
  * NO Exchange on that side: the shuffle was paid ONCE at write time
  * and amortizes over every future read. The two load-bearing graft
  * uses, both spec-pinned (BucketingSpec):
  *
  *  - the incremental-dedup digest INDEX
  *    ([[graft.operators.Dedup.incrementalDedup]]): bucketed by
  *    `digest`, the index-side distinct() collapses to a per-bucket
  *    aggregate and the batch join shuffles ONLY the (small) batch —
  *    the multi-TB index is never re-shuffled by a daily ingest;
  *  - a per-key event store (the as-of/window family): bucketed by
  *    `user_id` and sort-ordered by ts within buckets, the
  *    window/fold exchange on user_id disappears for every downstream
  *    feature pass.
  *
  * Bucket COUNT is the fixed-parallelism knob rule (SCALE.md): size it
  * to the table's target per-task read (~100-500 MB/bucket at scale),
  * never to today's core count. `bucketBy` requires the table-catalog
  * write path (`saveAsTable`); an explicit `path` keeps the data
  * external so the catalog entry is just metadata over parquet.
  * Reference semantics: svoe's SQL-index blocks co-locate nothing —
  * this is the Spark-native upgrade of its block store
  * (`svoe/featurizer/blocks/blocks.py:104-160` re-groups loaded
  * blocks per consumer in pandas on every read).
  */
object BucketedStore {

  /** Write `df` as an external bucketed parquet table at `path`,
    * registered as `table` — overwrites both. `sortCols` additionally
    * sort-orders rows WITHIN each bucket file (the merge-read
    * contract for secondary-sort folds).
    *
    * SINGLE-WRITER CONTRACT: the swap is DROP-then-CREATE (the
    * bucketBy write path requires `saveAsTable`, which cannot replace
    * in place), so a crash between the two leaves the name
    * unregistered — the data FILES at both old and new paths stay
    * intact, recovery is re-registering either, but a concurrent
    * reader resolving the name in that window errors. One maintainer
    * per table; concurrent READERS of already-resolved plans are safe
    * (their file lists are bound) as long as nothing deletes the old
    * files — which is why [[compactBuckets]] defers deletion to
    * [[vacuumBuckets]]. */
  def write(df: DataFrame, table: String, path: String, keys: Seq[String],
      buckets: Int, sortCols: Seq[String] = Nil): Unit = {
    require(keys.nonEmpty && buckets > 0, s"bad bucket spec ($keys, $buckets)")
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val w = df.write.mode("overwrite").option("path", path)
      .bucketBy(buckets, keys.head, keys.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }

  /** The bucketed table back, partitioning metadata attached — joins,
    * aggregates, and windows clustered on the bucket keys plan no
    * exchange over this frame. */
  def read(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Append rows to an existing bucketed table, preserving its bucket
    * spec — the INDEX-MAINTENANCE half of the incremental-dedup story:
    * after each ingest batch, the keepers' digests / signatures /
    * banded signatures append here, and the next batch's verdict join
    * still reads a correctly-bucketed index (each append adds one file
    * per touched bucket; Spark validates the spec, so a mis-bucketed
    * append fails loudly rather than silently corrupting co-location).
    * Appends accumulate files per bucket — re-`write` the table when
    * small-file count matters (the BlockCatalog compaction policy,
    * index edition). */
  def append(df: DataFrame, table: String): Unit = {
    val spark = df.sparkSession
    // saveAsTable(append) requires the writer to RESTATE the bucket
    // spec; deriving it from the catalog makes mis-bucketing
    // unrepresentable at this API
    val spec = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
      .bucketSpec
      .getOrElse(throw new IllegalArgumentException(s"$table is not bucketed"))
    val w = df.write.mode("append")
      .bucketBy(spec.numBuckets, spec.bucketColumnNames.head,
        spec.bucketColumnNames.tail: _*)
    (if (spec.sortColumnNames.nonEmpty)
       w.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
     else w).format("parquet").saveAsTable(table)
  }

  /** Rewrite a bucketed table into EXACTLY ONE FILE PER BUCKET,
    * preserving its spec and name — the BlockCatalog compaction
    * discipline applied to the dedup-index shape (r14 verdict #5):
    * [[append]] adds one file per touched bucket per batch, so a year
    * of daily ingests is ~365 files per bucket and the index-side scan
    * cost (the stored-index verdict floor) grows with file count, not
    * data. Run this on the ingest cadence's maintenance window.
    *
    * Mechanics: rows are read from the table's CURRENT files, shuffled
    * once into `numBuckets` partitions hash-placed on the bucket
    * columns — the same murmur3-pmod routing `bucketBy` uses, so each
    * write task holds exactly one bucket and emits exactly one file
    * — and re-registered under
    * the same name at a VERSIONED sibling path (write-new-then-swap).
    * The superseded directory is NOT deleted here: a reader holding an
    * already-resolved plan over the old files (lazy OR concurrent —
    * the BlockCatalog compact/vacuum discipline) survives the swap,
    * and storage reclaim is the separate, explicitly-scheduled
    * [[vacuumBuckets]] step. Superseded locations accumulate in the
    * `graft.superseded.locations` table property until vacuumed.
    * The catalog-entry swap itself follows [[write]]'s single-writer
    * contract (its scaladoc has the crash-window analysis). Returns
    * the new location. Verdict-neutral by construction — same rows,
    * same spec — pinned by BucketingSpec's compact case. */
  def compactBuckets(spark: SparkSession, table: String): String = {
    import org.apache.spark.sql.functions.col
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    val spec = meta.bucketSpec
      .getOrElse(throw new IllegalArgumentException(s"$table is not bucketed"))
    val oldLoc = new org.apache.hadoop.fs.Path(meta.location)
    // carry forward any not-yet-vacuumed locations from earlier
    // compactions (write() below rebuilds the table entry from scratch)
    val prior = meta.properties.get(SupersededProp)
    val newPath = oldLoc.toString.stripSuffix("/") +
      s"_compact_${java.util.UUID.randomUUID().toString.take(8)}"
    // read the FILES, not the catalog entry: write() below drops the
    // table name before re-creating it, and a plan bound to the
    // catalog relation would race that drop
    val rows = spark.read.parquet(oldLoc.toString)
      .repartition(spec.numBuckets, spec.bucketColumnNames.map(col): _*)
    write(rows, table, newPath, spec.bucketColumnNames, spec.numBuckets,
      spec.sortColumnNames)
    val all = (prior.toSeq :+ oldLoc.toString).mkString(",")
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES" +
      s" ('$SupersededProp' = '$all')")
    newPath
  }

  /** Table property recording directories superseded by
    * [[compactBuckets]], comma-joined (safe: locations are
    * engine-minted temp/sibling paths, never user strings). */
  private[graft] val SupersededProp = "graft.superseded.locations"

  /** The SCALE.md r15 cadence rule as code: [[compactBuckets]] iff the
    * table has fragmented past `maxFilesPerBucket` (measured wall: 10
    * appends -> 11,264 files -> ~2x verdict scan at 50M; one compact
    * -> 32 files, wall recovered — compact at O(10) files/bucket).
    * Returns the new location when it fired. Reclaim of superseded
    * dirs stays with [[vacuumBuckets]] on the caller's read-horizon
    * schedule. */
  def compactIfFragmented(spark: SparkSession, table: String,
      maxFilesPerBucket: Int): Option[String] = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    val spec = meta.bucketSpec
      .getOrElse(throw new IllegalArgumentException(s"$table is not bucketed"))
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the parquet data-file count, by listStatus, NOT
    // listFiles(recursive): the recursive iterator resolves block
    // locations per file — measured 5 ms/file vs 20 us with a flat dir
    // listing (250x; a fragmented table is exactly where this runs).
    // Bucketed tables write flat part files; recurse manually on the
    // (never-seen) nested case.
    def files(p: org.apache.hadoop.fs.Path): Long =
      fs.listStatus(p).foldLeft(0L) { (n, s) =>
        n + (if (s.isDirectory) files(s.getPath)
             else if (s.getPath.getName.endsWith(".parquet")) 1L else 0L)
      }
    if (files(loc) > maxFilesPerBucket.toLong * spec.numBuckets)
      Some(compactBuckets(spark, table))
    else None
  }

  /** Storage reclaim for [[compactBuckets]] — delete every superseded
    * directory recorded on `table` and clear the record. Run this only
    * once no reader still holds a plan resolved before the LAST
    * compaction (the BlockCatalog vacuum rule: compact on cadence,
    * vacuum after the read horizon passes). Returns the deleted
    * paths. */
  def vacuumBuckets(spark: SparkSession, table: String): Seq[String] = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(table))
    val stale = meta.properties.get(SupersededProp)
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val hconf = spark.sparkContext.hadoopConfiguration
    stale.foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(hconf).delete(hp, true)
    }
    if (stale.nonEmpty)
      spark.sql(s"ALTER TABLE $table UNSET TBLPROPERTIES ('$SupersededProp')")
    stale
  }
}
