package graft

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Methodology:
  *   - materialization via the `noop` sink — forces every output column
  *     (a bare `count()` lets Catalyst prune the projected expressions
  *     being benchmarked away);
  *   - one untimed warm-up run of the full suite (JIT + codegen cache +
  *     OS page cache), then TWO timed runs reporting each query's MIN —
  *     steady-state throughput, which is what the 100 TB comparison
  *     cares about. The min matters on a shared box: single-pass
  *     records showed roaming 10-20s stalls on trivial unchanged
  *     queries with ZERO collector time (the per-query "gc" map in the
  *     output pins that) — co-tenant contention, not plans. Pass 2 runs
  *     the query list REVERSED so even a sustained stall spanning both
  *     passes cannot hit the same query twice (a same-order run showed
  *     exactly that failure on the alphabetically-last queries);
  *   - local[32], shuffle partitions = cores (not 200: at this data
  *     scale extra partitions are pure scheduling overhead).
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus.toInt)

    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    val gcByQuery = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    def runOne(name: String): Double = {
      // clear persisted intermediates from the previous run BEFORE the
      // clock: each timed query pays its own persist cost (a warm-up
      // leftover would understate it) and cache residency stays bounded.
      // clearCache only drops catalog-cached DataFrames — RDD-level
      // persists and localCheckpoint blocks (the maintenance verdicts'
      // frozen batch, the distributed connected-components loop's
      // final cut) survive it; a leaked cut once pinned the block
      // manager for the rest of a bench session (3-4x phantom
      // regressions on unchanged queries). Freeing every persistent
      // RDD between queries keeps each measurement independent.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          return -1.0
      }
      // driver-JVM GC seconds attributable to this query's measurement
      // window — separates plan regressions from collector stalls when
      // reading per-round deltas (single-JVM local mode: driver GC IS
      // executor GC)
      gcByQuery(name) = (gcMillis() - gc0) / 1e3
      (System.nanoTime() - t0) / 1e9
    }

    // opt-in subset for local iteration (comma-separated names);
    // the driver never sets it, so the contract is unchanged
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // builder-side probe knob (driver never sets it): passes=1 skips
    // the warm-up and runs each query once — for hour-scale probe
    // decades where warm-up + min-of-2 would triple a 20-minute query.
    // The default (warm-up + min-of-2, pass 2 reversed) is unchanged.
    val passes = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt).getOrElse(2)
    val results =
      if (passes <= 1) names.map(n => n -> runOne(n))
      else {
        names.foreach(runOne) // warm-up
        val pass1 = names.map(n => n -> runOne(n)).toMap
        // pass 2 runs the list REVERSED: both passes are deterministic,
        // but a time-localized co-tenant stall now lands on *different*
        // queries in each pass, so min-of-2 discards it. With same-order
        // passes a stall spanning the end of pass 1 into the end of
        // pass 2 hit the same (alphabetically-last) queries twice and
        // survived the min.
        val pass2 = names.reverse.map(n => n -> runOne(n)).toMap
        names.map { n =>
          val t1 = pass1(n)
          val t2 = pass2(n)
          n -> (if (t1 < 0) t2 else if (t2 < 0) t1 else math.min(t1, t2))
        }
      }

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val gcs = results.map { case (k, _) =>
      "\"" + k + "\":" + gcByQuery.getOrElse(k, -1.0)
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val record =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"gc":$gcs,"sf":"$sfDir"}"""
    println(record)
    // the driver archives only the LAST 2000 chars of stdout, which
    // truncates the full per-query map at 170+ queries — regression
    // detection below the slowest-10 cutoff was blind round-over-round.
    // Persist the complete record (min wall + gc per query) to the repo
    // so every round's full map is diffable; failures never block the
    // stdout contract.
    // subset runs (SPARK_GRAFT_ONLY) must not clobber the full record.
    // The record is ALSO written per core count (BENCH_FULL_c${cpus}):
    // the driver benches the same bytes at 32 and at a lower core
    // count in one session, and with a single filename the second run
    // clobbered the first — the r16 driver's 8-core run overwrote the
    // 32-core per-query map, leaving PERF/scaling reconstruction blind
    // (r16 verdict item 1). BENCH_FULL.json stays for compatibility
    // and always holds the LATEST run.
    if (only.isEmpty)
      Seq("BENCH_FULL.json", s"BENCH_FULL_c$cpus.json").foreach { f =>
        try java.nio.file.Files.writeString(
          java.nio.file.Paths.get(f), record + "\n")
        catch { case e: Throwable =>
          System.err.println(s"[bench] $f write failed: ${e.getMessage}")
        }
      }
    // compact tail summary AFTER the full record: the driver archives
    // only the LAST 2000 chars of output, and at 115+ queries the full
    // wall-time map no longer fits — this one line keeps every
    // BENCH_r*.json tail self-sufficient (total + the slowest 10).
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val failed = results.count(_._2 < 0)
    println(s"""{"metric":"summary","total":$total,"n_queries":${results.size},"n_failed":$failed,"slowest":$slowest,"full_times":"BENCH_FULL.json","sf":"$sfDir"}""")
    spark.stop()
  }
}
