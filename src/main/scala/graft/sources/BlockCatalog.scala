package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Block storage + catalog (SURVEY.md §1.3, K1/S3): replaces the
  * reference's gzip-parquet blocks + SQLAlchemy index with a
  * day-partitioned parquet table per (definition, key) and a small
  * parquet metadata table.
  *
  * - Writes are content-hash idempotent (reference `tasks.py:208-215`):
  *   an order-independent xxhash64 digest of the frame skips duplicate
  *   stores.
  *  - Range scans push `day` down as partition pruning and the exact ts
  *   bounds down to row-group stats — the reference's SQL-index block
  *   discovery becomes a free Catalyst feature.
  *
  * At cluster scale the metadata table would live in a transactional
  * table format; the interface here is the engine-facing contract.
  */
class BlockCatalog(val spark: SparkSession, root: String) {

  private def dataPath(definition: String, key: String) = s"$root/$definition/$key/data"
  private def metaPath = s"$root/_meta"

  /** The raw append-only meta LOG: one row per catalog event —
    * op="add" (block stored) or op="drop" (block superseded by
    * compaction). APPEND-ONLY is the concurrency contract: every meta
    * mutation is a parquet append (new part files, never rewriting
    * existing ones), so a concurrent writer's append can never be lost
    * to a read-modify-write overwrite (the pre-round-3 design was
    * last-writer-wins on compaction). An empty frame only when the
    * catalog genuinely does not exist yet (missing-path
    * AnalysisException); transient IO / permission errors propagate —
    * swallowing them would read as "no catalog" and trigger silent
    * recompute+rewrite in buildMemoized. */
  private def metaLog: DataFrame =
    try {
      // mergeSchema: log rows written before the `ver` column existed
      // coexist with stamped rows (missing ver reads as null -> 0)
      val log = spark.read.option("mergeSchema", "true").parquet(metaPath)
      if (log.columns.contains("ver"))
        log.withColumn("ver", coalesce(col("ver"), lit(0L)))
      else if (log.columns.contains("hash")) log.withColumn("ver", lit(0L))
      else log
    }
    catch { case _: org.apache.spark.sql.AnalysisException => spark.emptyDataFrame }

  /** Highest version stamped for (definition, key); 0 for an empty or
    * pre-versioning catalog. Every meta append (one [[write]], one
    * [[compactSmallBlocks]] pass) carries currentVersion + 1 — a
    * compaction's tombstones and adds share ONE version, so no
    * snapshot can observe a half-applied compaction. Version
    * assignment follows the documented single-writer-per-
    * (definition, key) contract (racing writers could stamp the same
    * version; content-hash dedup keeps that harmless for adds).
    *
    * Read from [[logRows]], so it reflects the CURRENT log on every
    * call: a read-only instance, or one polling between another
    * process's appends, sees every commit (the r8 instance-lifetime
    * cache answered a reader's first scan forever, so
    * `scanAsOf(currentVersion(...))` could silently miss newer
    * versions). Our own appends advance the collected log in place
    * ([[appendMetaRows]]), so N writes cost N directory listings, not
    * N re-reads of the whole mergeSchema'd log (the O(N^2) of ADVICE
    * r7). */
  def currentVersion(definition: String, key: String): Long =
    logRows.filter(r => r.definition == definition && r.key == key)
      .map(_.ver).maxOption.getOrElse(0L)

  /** Names + sizes of every file in the (flat) meta log dir — the
    * append-only contract means any commit, from any process, changes
    * this set (new uniquely-named part files), so an unchanged listing
    * proves the cached collected log is current. One driver-side
    * `listStatus` instead of a mergeSchema parquet read + Spark job.
    * It reads names and lengths only: `listFiles` would build a
    * `LocatedFileStatus` per file, which loads owner and permissions,
    * and without Hadoop's native library each load forks `ls -ld`. */
  private def logFingerprint: String =
    try {
      val p = new org.apache.hadoop.fs.Path(metaPath)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
        .map(s => s"${s.getPath.getName}:${s.getLen}").sorted.mkString(",")
    } catch {
      case _: java.io.FileNotFoundException => "absent"
      case _: java.io.IOException => s"unlistable-${System.nanoTime()}"
    }

  /** One collected log event — the full meta row (r16: the stats ride
    * along so [[metaAsOf]] can be served from the collected cache with
    * zero Spark jobs; pre-r16 they stayed in the DataFrame views and
    * every `meta` call paid a mergeSchema parquet read). */
  private case class LogRow(definition: String, key: String,
      hash: String, op: String, ver: Long,
      startTs: Long, endTs: Long, numRows: Long)

  private var logCache: Option[(String, Seq[LogRow])] = None

  /** The meta log COLLECTED, cached per listing fingerprint. The log
    * is metadata-sized by contract (one row per block event), so a
    * local copy is always affordable — and it converts the read-side
    * helpers (version lookup, hash-dedup check, live-block derivation)
    * from one Spark read + job EACH into zero jobs while the log is
    * unchanged, one small collect when it isn't (r10: ev_catalog_scan
    * paid ~10 mergeSchema log reads per run; +0.3s across the two
    * catalog queries at sf0.1, far worse at 100x catalog churn). The
    * listing fingerprint keeps every cache hit exactly as fresh as a
    * rescan: the log is append-only, so every commit, from any
    * process, adds uniquely-named part files, and "the listing is
    * unchanged" proves "no commit landed since the cached scan" —
    * exactly the staleness the r8 instance-lifetime cache got wrong. */
  private def logRows: Seq[LogRow] = {
    val fp = logFingerprint
    logCache match {
      case Some((`fp`, rows)) => rows
      // the listing already proved the log dir does not exist — skip
      // the Spark read whose whole job would be to throw (a missing-
      // path resolution walks the full DataSource machinery and logs a
      // FileNotFoundException stack before the AnalysisException; every
      // fresh catalog paid it once, r17)
      case _ if fp == "absent" =>
        logCache = Some((fp, Seq.empty))
        Seq.empty
      case _ =>
        val log = metaLog
        val rows: Seq[LogRow] =
          if (!log.columns.contains("hash")) Seq.empty
          else {
            val op = if (log.columns.contains("op")) col("op")
              else lit("add")
            log.select(col("definition"), col("key"), col("hash"),
                op.as("op"), col("ver"), col("start_ts"), col("end_ts"),
                col("num_rows"))
              .collect().toSeq
              .map(r => LogRow(r.getString(0), r.getString(1),
                r.getString(2), r.getString(3), r.getLong(4),
                r.getLong(5), r.getLong(6), r.getLong(7)))
          }
        logCache = Some((fp, rows))
        rows
    }
  }

  /** Driver-side meta APPEND (r16 optimization): a meta commit is a
    * metadata-sized filesystem operation — the Delta-commit shape —
    * but writing it as a 1-row Spark DataFrame paid a full job
    * (scheduler + task + commit protocol, ~0.1-0.3 s) PER APPEND; an
    * ingest loop appends once per block, so the job overhead grew
    * with block count while the payload stayed bytes. parquet-mr
    * writes the identical columns Spark wrote pre-r16 (int64 / UTF8
    * binary; readers match parquet columns by name), into a uniquely
    * named part file — the append-only contract is unchanged, and
    * mergeSchema reads mix both writers' files freely. */
  private def appendMetaRows(rows: Seq[LogRow]): Unit = {
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.example.GroupWriteSupport
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    val schema = MessageTypeParser.parseMessageType(
      """message graft_meta {
        |  optional binary definition (UTF8);
        |  optional binary key (UTF8);
        |  optional int64 start_ts;
        |  optional int64 end_ts;
        |  optional int64 num_rows;
        |  optional binary hash (UTF8);
        |  optional binary op (UTF8);
        |  optional int64 ver;
        |}""".stripMargin)
    // CLONE the Hadoop conf (r16 ADVICE): GroupWriteSupport.setSchema
    // mutates the Configuration, and the session-shared
    // sparkContext.hadoopConfiguration can be concurrently serialized
    // by a running Spark job (ConcurrentModificationException) or have
    // another example-writer schema race this one.
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    GroupWriteSupport.setSchema(schema, conf)
    val id = java.util.UUID.randomUUID().toString.replace("-", "")
    val file = new org.apache.hadoop.fs.Path(s"$metaPath/part-$id.parquet")
    // WRITE-TEMP-THEN-RENAME (r16 ADVICE, medium): parquet-mr writes
    // straight to its target path, so a crash mid-write would leave a
    // truncated footer at the FINAL name and every subsequent
    // mergeSchema read of the whole log would fail — the Spark append
    // this replaced went through the file-commit protocol. The dotted
    // temp name is invisible to parquet directory reads (hidden-file
    // convention); the rename is atomic on a real filesystem, restoring
    // write()'s advertised crash-safe idempotency.
    val tmp = new org.apache.hadoop.fs.Path(s"$metaPath/.part-$id.parquet.tmp")
    val writer = ExampleParquetWriter.builder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, conf))
      .withConf(conf)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    val gf = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val g = gf.newGroup()
      g.append("definition", r.definition)
      g.append("key", r.key)
      g.append("start_ts", r.startTs)
      g.append("end_ts", r.endTs)
      g.append("num_rows", r.numRows)
      g.append("hash", r.hash)
      g.append("op", r.op)
      g.append("ver", r.ver)
      writer.write(g)
    } finally writer.close()
    val fs = tmp.getFileSystem(conf)
    if (!fs.rename(tmp, file))
      throw new java.io.IOException(
        s"meta append commit failed: rename $tmp -> $file")
    // advance the collected-log cache IN PLACE (r16): the appended rows
    // are known exactly, so the next read needs no mergeSchema
    // re-collect — the fingerprint is re-listed AFTER the append,
    // pairing the new listing with old rows + ours. Exactly as safe as
    // the version numbers themselves (single writer per (definition,
    // key)): a FOREIGN append racing into the gap between our append
    // and the listing would be fingerprint-absorbed with its rows
    // missing — the same race the contract already excludes. A cold
    // cache (None) stays cold: nothing to advance.
    logCache = logCache.map { case (_, old) => (logFingerprint, old ++ rows) }
  }

  /** The LIVE blocks as of a version, derived from the collected log
    * at read time: op="add" rows stamped <= asOfVer, deduplicated on
    * (definition, key, hash) at their LOWEST version — two racing
    * writers of identical content collapse to one block, the first
    * cataloged — minus every tombstoned hash, sorted by (definition,
    * key, ver, hash). Tombstones are permanent: a content hash, once
    * compacted away, stays known forever (its rows live on inside the
    * compacted block, so re-admitting it would double-count). The meta
    * table is the single source of truth: a data directory not (yet)
    * in meta — a write that crashed before its meta append, or a
    * compaction leftover — is invisible garbage, never a double-count.
    * Zero Spark jobs while the log is unchanged. `dk` narrows to one
    * (definition, key). */
  private def live(asOfVer: Long = Long.MaxValue,
      dk: Option[(String, String)] = None): Seq[LogRow] = {
    val rs = logRows.filter(r =>
      r.ver <= asOfVer && dk.forall(_ == ((r.definition, r.key))))
    val drops = rs.filter(_.op == "drop")
      .map(r => (r.definition, r.key, r.hash)).toSet
    rs.filter(_.op == "add")
      .groupBy(r => (r.definition, r.key, r.hash))
      .map { case (_, g) => g.minBy(_.ver) }
      .filterNot(r => drops((r.definition, r.key, r.hash)))
      .toSeq.sortBy(r => (r.definition, r.key, r.ver, r.hash))
  }

  private def liveHashes(definition: String, key: String,
      asOfVer: Long = Long.MaxValue): Seq[String] =
    live(asOfVer, Some((definition, key))).map(_.hash)

  /** The live catalog view ([[live]]) as a local frame of (definition,
    * key, start_ts, end_ts, num_rows, hash). */
  def meta: DataFrame = metaAsOf(Long.MaxValue)

  /** The catalog view AS OF a version — SNAPSHOT READS (time travel).
    * A compaction's drops and adds share one version, so every
    * snapshot sees either the pre-compaction blocks or the compacted
    * ones, never a mix. */
  def metaAsOf(asOfVer: Long): DataFrame = {
    import spark.implicits._
    if (logRows.isEmpty) return spark.emptyDataFrame
    live(asOfVer)
      .map(r => (r.definition, r.key, r.startTs, r.endTs, r.numRows, r.hash))
      .toDF("definition", "key", "start_ts", "end_ts", "num_rows", "hash")
  }

  /** Store a frame as one block, unless its content is empty or already
    * cataloged for (definition, key) — adds and tombstones alike
    * (tombstoned content already lives inside a compacted block;
    * re-storing it would duplicate rows). Returns the "add" row for the
    * caller to append at `ver`; the meta log is not touched here.
    *
    * ONE job: the frame is written once, partitioned by `day`, to
    * `_staging/<uuid>` (the leading `_` hides it from partition
    * discovery), and an [[org.apache.spark.sql.Observation]] on that
    * write collects the content hash — the order-independent decimal
    * sum of row xxhash64 over the sorted columns (wrap-free under ANSI;
    * duplicate-multiset-sensitive, unlike XOR) — and the ts range and
    * row count. The staging directory is then deleted (empty or known
    * content) or renamed to `block=<hash>`. A `block=<hash>` already
    * there is an unlisted crash leftover and is deleted first: Hadoop's
    * `rename` onto an existing directory moves the source INSIDE it. */
  private def store(df: DataFrame, definition: String, key: String,
      tsUs: String, ver: Long): Option[LogRow] = {
    val obs = org.apache.spark.sql.Observation()
    val dir = dataPath(definition, key)
    val staging = new org.apache.hadoop.fs.Path(
      s"$dir/_staging/${java.util.UUID.randomUUID()}")
    val cols = df.columns.sorted.map(col).toIndexedSeq
    df.observe(obs,
        sum(xxhash64(cols: _*).cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("h"),
        min(col(tsUs)).as("start_ts"), max(col(tsUs)).as("end_ts"),
        count(lit(1)).as("num_rows"))
      .withColumn("day", date_format(timestamp_micros(col(tsUs)), "yyyy-MM-dd"))
      .write.partitionBy("day").parquet(staging.toString)
    val m = obs.get
    val hash = Option(m("h")).map(_.asInstanceOf[java.math.BigDecimal]
      .toBigInteger.toString(16))
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    hash.filterNot(h => logRows.exists(r =>
        r.definition == definition && r.key == key && r.hash == h)) match {
      case None =>
        fs.delete(staging, true)
        None
      case Some(h) =>
        val block = new org.apache.hadoop.fs.Path(s"$dir/block=$h")
        fs.delete(block, true)
        if (!fs.rename(staging, block))
          throw new java.io.IOException(s"block commit failed: rename $staging -> $block")
        Some(LogRow(definition, key, h, "add", ver, m("start_ts").asInstanceOf[Long],
          m("end_ts").asInstanceOf[Long], m("num_rows").asInstanceOf[Long]))
    }
  }

  /** Store a ts-ordered frame as day-partitioned parquet + one metadata
    * row; skipped (false) when the frame is empty or the identical
    * content is already cataloged. `tsUs` must be an epoch-micros Long
    * column name. The frame's plan runs once.
    *
    * Crash-safe idempotency: the data is written to a staging directory
    * and renamed to the deterministic partition dir `block=<hash>`, and
    * the meta row is appended only afterwards. A crash before the
    * rename leaves a `_staging` leftover that scans never read and
    * [[vacuum]] removes; a crash between the rename and the meta append
    * leaves an unlisted block dir that a retry replaces (no
    * duplication) before recording the meta row; a retry after both
    * simply hits the hash check. */
  def write(df: DataFrame, definition: String, key: String, tsUs: String): Boolean =
    store(df, definition, key, tsUs, currentVersion(definition, key) + 1L) match {
      case Some(row) => appendMetaRows(Seq(row)); true
      case None => false
    }

  /** Full scan of a (definition, key) table (meta-listed blocks only;
    * `block` is a partition column, so the isin filter prunes
    * directories). */
  def scanAll(definition: String, key: String): DataFrame = {
    val hs = liveHashes(definition, key)
    spark.read.parquet(dataPath(definition, key))
      .filter(col("block").isin(hs: _*)).drop("block")
  }

  /** Range scan: partition pruning on block + day + exact ts bounds. */
  def scan(definition: String, key: String, startUs: Long, endUs: Long,
      tsUs: String = "ts_us"): DataFrame =
    scanAsOf(definition, key, startUs, endUs, Long.MaxValue, tsUs)

  /** SNAPSHOT range scan — time travel: the block set is the catalog
    * view as of `asOfVer` ([[metaAsOf]]); compaction keeps superseded
    * data directories on disk (metadata-only supersession), so every
    * snapshot stays readable until [[vacuum]] reclaims it — the
    * Delta-style compact/vacuum split. Reproducibility surface: a
    * training run records (definition, key, version) and can re-read
    * the exact corpus it trained on regardless of later ingests or
    * compactions.
    *
    * Version UNIQUENESS — not just add-dedup — is part of the
    * single-writer contract: two racing appenders could stamp the
    * same version, and a snapshot at that version would then observe
    * a mix of two logical commits (harmless for content-hash-deduped
    * adds, ambiguous if a compaction races a writer). One writer per
    * (definition, key) makes every version a single atomic commit. */
  def scanAsOf(definition: String, key: String, startUs: Long, endUs: Long,
      asOfVer: Long, tsUs: String = "ts_us"): DataFrame = {
    val hs = liveHashes(definition, key, asOfVer)
    spark.read.parquet(dataPath(definition, key))
      .filter(col("block").isin(hs: _*))
      .filter(col("day") >= date_format(timestamp_micros(lit(startUs)), "yyyy-MM-dd")
        && col("day") <= date_format(timestamp_micros(lit(endUs)), "yyyy-MM-dd"))
      .filter(col(tsUs) >= startUs && col(tsUs) <= endUs)
      .drop("block")
  }

  /** Reclaim data directories no longer live in the CURRENT view
    * (tombstoned by compaction), and the `_staging` leftovers of
    * writes that died before their rename. After a vacuum, snapshots
    * that referenced the reclaimed blocks are no longer readable — the
    * retention trade every compact/vacuum design makes; vacuum when
    * the reproducibility window has passed. Like compaction, run it
    * from the (definition, key)'s one writer: a concurrent write's
    * staging directory would be swept too. Returns block directories
    * deleted. */
  def vacuum(definition: String, key: String): Int = {
    val live = liveHashes(definition, key).toSet
    val dead = logRows
      .filter(r => r.definition == definition && r.key == key)
      .map(_.hash).distinct.filterNot(live)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val dir = dataPath(definition, key)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_staging"), true)
    dead.count(h => fs.delete(new org.apache.hadoop.fs.Path(s"$dir/block=$h"), true))
  }

  /** Contiguous covered ranges for a (definition, key): catalog blocks
    * sorted by start_ts merge while the inter-block gap (next start_ts
    * minus running end_ts) is <= maxGapUs; a larger gap starts a new
    * range. Mirrors the reference's gap rule splitting block ranges
    * (svoe `featurizer/blocks/blocks.py:84-101`, <=1s default). Read
    * from the live view ([[live]]): catalog metadata, not data. */
  def coveredRanges(definition: String, key: String,
      maxGapUs: Long = 1000000L): Seq[(Long, Long)] = {
    val blocks = live(dk = Some((definition, key)))
      .map(r => (r.startTs, r.endTs)).sorted
    blocks.foldLeft(Vector.empty[(Long, Long)]) { case (acc, (s, e)) =>
      acc.lastOption match {
        case Some((rs, re)) if s - re <= maxGapUs =>
          acc.init :+ (rs, math.max(re, e))
        case _ => acc :+ (s, e)
      }
    }
  }

  /** Compact runs of small blocks (reference `streaming/block_writer/
    * memory_based_compactor.py:11-51`, which buffers frames until a
    * memory target before storing — here as post-hoc small-file
    * compaction, the Spark-idiomatic shape). Adjacent blocks (by
    * start_ts) are greedily grouped until the group reaches
    * `targetRows`; each multi-block group is rewritten as ONE block and
    * its members tombstoned in the catalog — METADATA-ONLY
    * supersession: the old directories stay on disk so snapshot reads
    * ([[scanAsOf]]) keep working until [[vacuum]] reclaims them.
    * Returns the number of groups compacted.
    *
    * Crash safety: scans read only meta-LIVE blocks, so the order
    * (write new dirs → append tombstones+adds to the log) never
    * double-counts — a crash before the log append leaves invisible
    * new dirs that the re-run overwrites (same content hash).
    *
    * Concurrency: the log append keeps this lock-free against
    * concurrent WRITERS — their adds land as separate part files and
    * are never overwritten (the pre-round-3 read-modify-write meta
    * rewrite silently dropped any add that raced it). Run at most ONE
    * compactor per (definition, key) at a time: two racing compactors
    * could tombstone the same members and admit two overlapping
    * combined blocks — a documented single-compactor constraint, same
    * as the reference's per-writer compactor. Readers racing a
    * [[vacuum]] dir deletion can hit a vanished block dir
    * (plain-parquet limit; a transactional table format makes the
    * whole step one commit at cluster scale, class scaladoc). */
  def compactSmallBlocks(definition: String, key: String, targetRows: Long,
      tsUs: String = "ts_us"): Int = {
    val blocks = live(dk = Some((definition, key))).sortBy(r => (r.startTs, r.endTs))
    // greedy adjacent grouping to the row target
    val groups = scala.collection.mutable.ArrayBuffer.empty[Vector[LogRow]]
    var cur = Vector.empty[LogRow]
    var curRows = 0L
    blocks.foreach { b =>
      cur :+= b; curRows += b.numRows
      if (curRows >= targetRows) { groups += cur; cur = Vector.empty; curRows = 0L }
    }
    if (cur.nonEmpty) groups += cur
    val toCompact = groups.filter(_.size > 1)
    if (toCompact.isEmpty) return 0

    // APPEND tombstones for the compacted members + adds for the new
    // blocks — never rewrite the log (see scaladoc: a concurrent
    // writer's append must survive this). ONE version for the whole
    // compaction: snapshots see pre- or post-compaction, never a mix.
    // Superseded data DIRECTORIES stay on disk for snapshot reads
    // ([[scanAsOf]]); [[vacuum]] reclaims them when the
    // reproducibility window has passed. Each group is one scan of the
    // table pruned to its members' block directories.
    val ver = currentVersion(definition, key) + 1L
    val table = spark.read.parquet(dataPath(definition, key))
    val added = toCompact.flatMap(grp => store(
      table.filter(col("block").isin(grp.map(_.hash): _*)).drop("block", "day"),
      definition, key, tsUs, ver))
    appendMetaRows(toCompact.flatten.toSeq.map(_.copy(op = "drop", ver = ver)) ++ added)
    toCompact.size
  }

  /** Gap-aware range scan: one frame per contiguous covered sub-range
    * intersecting [startUs, endUs], so a request spanning a hole gets
    * the hole surfaced as a range split instead of silence (the
    * reference splits ranges at gaps; plain `scan` is the
    * hole-oblivious variant). */
  def scanSplitAtGaps(definition: String, key: String, startUs: Long,
      endUs: Long, maxGapUs: Long = 1000000L,
      tsUs: String = "ts_us"): Seq[((Long, Long), DataFrame)] =
    coveredRanges(definition, key, maxGapUs)
      .filter { case (s, e) => e >= startUs && s <= endUs }
      .map { case (s, e) =>
        val (lo, hi) = (math.max(s, startUs), math.min(e, endUs))
        ((lo, hi), scan(definition, key, lo, hi, tsUs))
      }
}
