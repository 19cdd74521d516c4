package lifebench

import java.nio.file.{Files, Path}

/** Per-layer metrics of one traced pass, from its spans and counts.
  * Span names are `<layer>.<call>`; a metric `<layer>.<call>_ms` sums the
  * wall of those spans, `_jobs` the Spark jobs attributed to them. */
object Layers {

  /** The per-layer metrics of BENCHMARK.json: every traced run prints these. */
  val Names: Seq[(String, String)] = Seq(
    "sources.ingest_ms" -> "ms", "sources.ingest_jobs" -> "count",
    "sources.scan_build_ms" -> "ms", "sources.scan_jobs" -> "count",
    "sources.meta_files" -> "count", "sources.block_dirs" -> "count",
    "sources.bytes_written_mb" -> "MB",
    "core.forest_build_ms" -> "ms", "core.forest_build_jobs" -> "count",
    "core.persisted_nodes" -> "count",
    "operators.fls_action_ms" -> "ms", "operators.fls_stages" -> "count",
    "operators.fls_tasks" -> "count", "operators.shuffle_write_mb" -> "MB",
    "operators.spill_mb" -> "MB", "operators.single_task_stages" -> "count",
    "consumers.train_ms" -> "ms", "consumers.train_jobs" -> "count",
    "consumers.backtest_ms" -> "ms", "consumers.backtest_jobs" -> "count",
    "streaming.triggers" -> "count", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms", "streaming.state_commit_ms" -> "ms",
    "streaming.state_update_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_memory_mb" -> "MB", "streaming.dedup_dropped_rows" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.deserialize_s" -> "s", "spark.gc_s" -> "s", "spark.idle_s" -> "s",
    "traced.pass_s" -> "s")

  /** Calls that only feature_store makes, printed on its traced runs too. */
  val FeatureStoreNames: Seq[(String, String)] = Seq(
    "sources.write_ms" -> "ms", "sources.write_jobs" -> "count",
    "sources.scan_action_ms" -> "ms",
    "sources.compact_ms" -> "ms", "sources.compact_jobs" -> "count",
    "core.memo_lookup_jobs" -> "count")

  def names(workload: String): Seq[(String, String)] =
    if (workload == "feature_store") Names ++ FeatureStoreNames else Names

  private val MB = 1024.0 * 1024.0

  def perPass(spans: Seq[Span], counts: Map[String, Double]): Map[String, Double] = {
    def of(name: String) = spans.filter(_.name == name)
    def ms(name: String) = of(name).map(_.wallMs).sum
    def jobs(names: String*) = names.flatMap(of).map(_.jobs.toDouble).sum
    val fls = of("operators.fls_action")
    val drains = of("streaming.drain")
    val m = Map(
      "sources.ingest_ms" -> ms("sources.ingest"),
      "sources.ingest_jobs" -> jobs("sources.ingest"),
      "sources.write_ms" -> ms("sources.write"),
      "sources.write_jobs" -> jobs("sources.write"),
      "sources.scan_build_ms" -> ms("sources.scan_build"),
      "sources.scan_action_ms" -> ms("sources.scan_action"),
      "sources.scan_jobs" -> jobs("sources.scan_build", "sources.scan_action"),
      "sources.compact_ms" -> ms("sources.compact"),
      "sources.compact_jobs" -> jobs("sources.compact"),
      "core.forest_build_ms" -> ms("core.forest_build"),
      "core.forest_build_jobs" -> jobs("core.forest_build"),
      "core.memo_lookup_jobs" -> jobs("core.memo"),
      "operators.fls_action_ms" -> ms("operators.fls_action"),
      "operators.fls_stages" -> fls.map(_.stages.toDouble).sum,
      "operators.fls_tasks" -> fls.map(_.tasks.toDouble).sum,
      "operators.shuffle_write_mb" -> fls.map(_.shuffleWriteBytes / MB).sum,
      "operators.spill_mb" -> fls.map(_.spillBytes / MB).sum,
      "operators.single_task_stages" -> fls.map(_.singleTaskStages.toDouble).sum,
      "consumers.train_ms" -> ms("consumers.train"),
      "consumers.train_jobs" -> jobs("consumers.train"),
      "consumers.backtest_ms" -> ms("consumers.backtest"),
      "consumers.backtest_jobs" -> jobs("consumers.backtest"),
      "streaming.triggers" -> drains.map(_.triggers.toDouble).sum,
      "streaming.add_batch_ms" -> drains.map(_.addBatchMs.toDouble).sum,
      "streaming.query_planning_ms" -> drains.map(_.queryPlanningMs.toDouble).sum,
      "streaming.wal_commit_ms" -> drains.map(_.walCommitMs.toDouble).sum,
      "streaming.latest_offset_ms" -> drains.map(_.latestOffsetMs.toDouble).sum,
      "streaming.state_commit_ms" -> drains.map(_.stateCommitMs.toDouble).sum,
      "streaming.state_update_ms" -> drains.map(_.stateUpdateMs.toDouble).sum,
      "streaming.state_rows" -> drains.map(_.stateRows.toDouble).sum,
      "streaming.state_memory_mb" -> drains.map(_.stateMemoryBytes / MB).sum,
      "streaming.dedup_dropped_rows" -> drains.map(_.dedupDropped.toDouble).sum,
      "spark.jobs" -> spans.map(_.jobs.toDouble).sum,
      "spark.stages" -> spans.map(_.stages.toDouble).sum,
      "spark.tasks" -> spans.map(_.tasks.toDouble).sum,
      "spark.task_run_s" -> spans.map(_.taskRunMs / 1e3).sum,
      "spark.task_cpu_s" -> spans.map(_.taskCpuNs / 1e9).sum,
      "spark.deserialize_s" -> spans.map(_.deserializeMs / 1e3).sum,
      "spark.gc_s" -> spans.map(_.gcMs / 1e3).sum,
      "spark.idle_s" -> spans.filter(_.parent < 0).map(idleMs).sum / 1e3,
      // the untraced run's pass_s, measured with tracing on
      "traced.pass_s" -> spans.filter(_.parent < 0).map(_.wallMs).sum / 1e3)
    m ++ counts
  }

  /** Wall of a span during which none of its tasks ran. */
  private def idleMs(s: Span): Double = {
    val iv = s.taskIntervals.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, (s.endMs - s.startMs - covered).toDouble)
  }

  /** End-of-pass catalog sizes under `root`: meta log files, block
    * directories and bytes on disk. */
  def catalogSizes(root: Path): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(root)) return Map.empty
    val all = Files.walk(root).iterator().asScala.toSeq
    val files = all.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
    Map(
      "sources.meta_files" -> files.count(_.toString.contains("/_meta/")).toDouble,
      "sources.block_dirs" -> all.count(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("block=")).toDouble,
      "sources.bytes_written_mb" -> files.map(Files.size(_)).sum / MB)
  }
}
