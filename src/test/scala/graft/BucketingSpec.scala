package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup
import graft.sources.BucketedStore

/** Pins the bucketed co-location contract (BucketedStore scaladoc):
  * a table stored hash-bucketed on its join key reports its
  * partitioning from the scan, so downstream joins / aggregates /
  * windows clustered on that key plan NO Exchange on the bucketed
  * side. These are PLAN assertions — the 100 TB promise is exactly
  * "the persistent side never re-shuffles", and that is visible (and
  * regression-guarded) in the physical plan string. */
class BucketingSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  // SimpleMode keeps "Exchange hashpartitioning(...)" on one line
  // (FormattedMode splits the node from its arguments)
  private def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    "Exchange hashpartitioning".r.findAllIn(
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)).length

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("digest-bucketed dedup index: only the batch side shuffles") {
    val docs = Tables.documents(spark, dir)
    val idx = docs.filter(col("doc_id") % 2 === 0)
      .select(sha2(col("text"), 256).as("digest"))
    BucketedStore.write(idx, "graft_idx_bucketed", tmp("graft_bidx"),
      Seq("digest"), buckets = 8)
    val batch = docs.filter(col("doc_id") % 2 =!= 0)
      .select(col("doc_id"), col("text"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the sort-merge path: broadcast hides the distribution
      // requirement this spec is about (a too-big-to-broadcast batch
      // is exactly when index bucketing pays)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val out = Dedup.incrementalDedup(batch, col("text"), col("doc_id"),
        BucketedStore.read(spark, "graft_idx_bucketed"))
      val p = plan(out)
      assert(p.contains("Bucketed: true"), s"index scan not bucketed:\n$p")
      assert(p.contains("SelectedBucketsCount"), s"bucket pruning metadata absent:\n$p")
      // The contract is WHICH side moves, not how many exchanges the
      // plan has (the keeper agg re-partitions batch rows to the
      // bucket count — batch-sized, cheap): over the bucketed index
      // NO exchange carries idx_digest — its distinct() collapsed to
      // per-bucket aggregates and the join reads buckets directly —
      // while the unbucketed plan shuffles the whole index.
      def idxExchanges(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.explainString(
            org.apache.spark.sql.execution.SimpleMode)
          .linesIterator.count(l =>
            l.contains("Exchange hashpartitioning") && l.contains("idx_digest"))
      assert(idxExchanges(out) == 0,
        s"index-side exchange survived bucketing:\n$p")
      val unbucketed = Dedup.incrementalDedup(batch, col("text"),
        col("doc_id"), idx)
      assert(idxExchanges(unbucketed) >= 1,
        "control: the unbucketed index should shuffle")
      // semantics unchanged: same verdicts as the unbucketed run
      val a = out.collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      val b = unbucketed.collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(a == b)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS graft_idx_bucketed")
    }
  }

  test("user-bucketed events: the per-key window plans no exchange") {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), expr("ts div 1000").as("ts_us"),
        col("user_id"), col("value"))
    BucketedStore.write(ev, "graft_ev_bucketed", tmp("graft_bev"),
      Seq("user_id"), buckets = 8, sortCols = Seq("user_id", "ts_us"))
    try {
      val w = Window.partitionBy("user_id").orderBy("ts_us")
      val over = BucketedStore.read(spark, "graft_ev_bucketed")
        .withColumn("prev", lag("value", 1).over(w))
      val p = plan(over)
      assert(p.contains("Bucketed: true"), s"event scan not bucketed:\n$p")
      assert(exchanges(over) == 0,
        s"window over the bucketed key still exchanges:\n$p")
      // same rows as the window over the raw table
      val raw = ev.withColumn("prev", lag("value", 1).over(w))
      val a = over.collect().map(r => (r.getLong(0), Option(r.get(4)))).toSet
      val b = raw.collect().map(r => (r.getLong(0), Option(r.get(4)))).toSet
      assert(a == b)
    } finally spark.sql("DROP TABLE IF EXISTS graft_ev_bucketed")
  }

  test("band-bucketed near-dup index: neither index table re-shuffles") {
    val docs = Tables.documents(spark, dir)
    val side = substring(md5(col("doc_id").cast("string")), 1, 1)
    val idxSigs = Dedup.minhashSignatures(docs.filter(side < "a"),
      col("text"), col("doc_id"), perms = 32, shingleN = 3,
      baseHash = Dedup.Md5Prefix)
    BucketedStore.write(Dedup.minhashBands(idxSigs, 32, 16),
      "graft_nidx_bands", tmp("graft_nb"), Seq("bidx", "bhash"), buckets = 8)
    BucketedStore.write(idxSigs, "graft_nidx_sigs", tmp("graft_ns"),
      Seq("doc_id"), buckets = 8)
    val batch = docs.filter(side >= "a")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val stored = Dedup.incrementalNearDup(batch, col("text"), col("doc_id"),
        BucketedStore.read(spark, "graft_nidx_sigs"),
        perms = 32, bands = 16, estThreshold = 0.6,
        baseHash = Dedup.Md5Prefix,
        indexBands = Some(BucketedStore.read(spark, "graft_nidx_bands")))
      // index-side columns are uniquely named (i_bidx / idx_doc_id), so
      // an exchange carrying either IS an index-table re-shuffle
      def idxExchanges(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.explainString(
            org.apache.spark.sql.execution.SimpleMode)
          .linesIterator.count(l =>
            l.contains("Exchange hashpartitioning") &&
              (l.contains("i_bidx") || l.contains("idx_doc_id")))
      val p = plan(stored)
      assert(p.contains("Bucketed: true"), s"index scans not bucketed:\n$p")
      assert(idxExchanges(stored) == 0,
        s"index-side exchange survived bucketing:\n$p")
      val recomputed = Dedup.incrementalNearDup(batch, col("text"),
        col("doc_id"), idxSigs, perms = 32, bands = 16,
        estThreshold = 0.6, baseHash = Dedup.Md5Prefix)
      assert(idxExchanges(recomputed) >= 1,
        "control: the recomputed-band path should shuffle the index")
      // semantics identical to the recompute-everything path
      val a = stored.orderBy("doc_id").collect().map(_.toSeq).toSeq
      val b = recomputed.orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(a == b)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS graft_nidx_bands")
      spark.sql("DROP TABLE IF EXISTS graft_nidx_sigs")
    }
  }

  test("index append: bucketing survives, verdicts match a fresh full index") {
    val docs = Tables.documents(spark, dir)
    val side = substring(md5(col("doc_id").cast("string")), 1, 1)
    val idxDocs = docs.filter(side < "a")
    // half the index written, the other half APPENDED (two ingest days)
    val h = col("doc_id") % 2 === 0
    def sigsOf(d: org.apache.spark.sql.DataFrame) =
      Dedup.minhashSignatures(d, col("text"), col("doc_id"),
        perms = 32, shingleN = 3, baseHash = Dedup.Md5Prefix)
    BucketedStore.write(Dedup.minhashBands(sigsOf(idxDocs.filter(h)), 32, 16),
      "graft_app_bands", tmp("graft_ab"), Seq("bidx", "bhash"), buckets = 8)
    BucketedStore.write(sigsOf(idxDocs.filter(h)), "graft_app_sigs",
      tmp("graft_as"), Seq("doc_id"), buckets = 8)
    BucketedStore.append(Dedup.minhashBands(sigsOf(idxDocs.filter(!h)), 32, 16),
      "graft_app_bands")
    BucketedStore.append(sigsOf(idxDocs.filter(!h)), "graft_app_sigs")
    try {
      val batch = docs.filter(side >= "a")
      val stored = Dedup.incrementalNearDup(batch, col("text"), col("doc_id"),
        BucketedStore.read(spark, "graft_app_sigs"),
        perms = 32, bands = 16, estThreshold = 0.6,
        baseHash = Dedup.Md5Prefix,
        indexBands = Some(BucketedStore.read(spark, "graft_app_bands")))
      assert(plan(stored).contains("Bucketed: true"))
      val fresh = Dedup.incrementalNearDup(batch, col("text"), col("doc_id"),
        sigsOf(idxDocs), perms = 32, bands = 16, estThreshold = 0.6,
        baseHash = Dedup.Md5Prefix)
      val a = stored.orderBy("doc_id").collect().map(_.toSeq).toSeq
      val b = fresh.orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(a == b, "appended index diverged from a fresh full index")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_app_bands")
      spark.sql("DROP TABLE IF EXISTS graft_app_sigs")
    }
  }

  test("compactBuckets: appends collapse to one file per bucket, verdicts identical") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val side = substring(md5(col("doc_id").cast("string")), 1, 1)
    val idxSigs = Dedup.simhash(docs.filter(side < "a"),
      col("text"), col("doc_id"))
    // three ingest days: one write + two appends
    val g = col("doc_id") % 3
    BucketedStore.write(Dedup.simhashChunks(idxSigs.filter(g === 0), 3),
      "graft_cmp_idx", tmp("graft_cmp"), Seq("cidx", "cval"), buckets = 8)
    BucketedStore.append(Dedup.simhashChunks(idxSigs.filter(g === 1), 3),
      "graft_cmp_idx")
    BucketedStore.append(Dedup.simhashChunks(idxSigs.filter(g === 2), 3),
      "graft_cmp_idx")
    def location(): java.nio.file.Path = java.nio.file.Paths.get(
      spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("graft_cmp_idx"))
        .location)
    def partFiles(p: java.nio.file.Path): Seq[String] = {
      import scala.jdk.CollectionConverters._
      val st = java.nio.file.Files.walk(p)
      try st.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
        .toSeq
      finally st.close()
    }
    try {
      val batch = Dedup.simhash(docs.filter(side >= "a"),
        col("text"), col("doc_id"))
      def verdict() = Dedup.incrementalNearDupHashes(batch,
          Seq.empty[(Long, Long)].toDF("doc_id", "simhash"), maxDist = 3,
          indexChunks = Some(BucketedStore.read(spark, "graft_cmp_idx")))
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      val before = verdict()
      val oldLoc = location()
      val nBefore = partFiles(oldLoc).size
      assert(nBefore > 8,
        s"fixture must accumulate multiple files per bucket, got $nBefore")
      // a reader RESOLVED before compaction — its plan's file list is
      // bound to the old location; the compact/vacuum split (r15
      // verdict #1) exists so this plan survives the swap
      val preReader = spark.read.parquet(oldLoc.toString)
      val preCount = preReader.count()
      val newLoc = BucketedStore.compactBuckets(spark, "graft_cmp_idx")
      val after = partFiles(java.nio.file.Paths.get(
        new org.apache.hadoop.fs.Path(newLoc).toUri.getPath))
      assert(after.size == 8, s"expected one file per bucket, got $after")
      assert(location().toString.contains("_compact_"),
        "catalog must point at the compacted location")
      // delete is DEFERRED: the superseded dir survives until vacuum,
      // and the pre-compaction reader still collects over it
      assert(java.nio.file.Files.exists(oldLoc),
        "compaction must not delete the superseded directory")
      assert(preReader.count() == preCount,
        "a plan resolved before compaction must survive it")
      // still bucketed (no index-side exchange downstream), same rows
      assert(plan(BucketedStore.read(spark, "graft_cmp_idx")
        .groupBy("cidx", "cval").count()).contains("Bucketed: true"))
      assert(verdict() == before,
        "compaction changed verdicts — it must be a pure rewrite")
      // vacuum = the explicit reclaim step: superseded dir deleted,
      // record cleared, table untouched
      val vacuumed = BucketedStore.vacuumBuckets(spark, "graft_cmp_idx")
      assert(vacuumed == Seq(oldLoc.toString) ||
        vacuumed.map(p => java.nio.file.Paths.get(
          new org.apache.hadoop.fs.Path(p).toUri.getPath)) == Seq(oldLoc),
        s"vacuum must report the superseded dir, got $vacuumed")
      assert(!java.nio.file.Files.exists(oldLoc),
        "vacuum must reclaim the superseded directory")
      assert(BucketedStore.vacuumBuckets(spark, "graft_cmp_idx").isEmpty,
        "second vacuum must be a no-op")
      assert(verdict() == before, "vacuum changed verdicts")
    } finally spark.sql("DROP TABLE IF EXISTS graft_cmp_idx")
  }
}
