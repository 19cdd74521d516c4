package lifebench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Check results of one pass. A failed check never throws: it is
  * recorded, and the run reports `correct = false`. */
final class Checks {
  val failures = mutable.ArrayBuffer.empty[String]
  def apply(name: String)(ok: Boolean, detail: => String = ""): Unit =
    if (!ok) failures += s"$name${if (detail.isEmpty) "" else s": $detail"}"
}

/** One pass of a workload: a fresh directory, the timed calls it makes
  * into the program, optional tracing, and its checks. */
final class Pass(val spark: SparkSession, val dir: Path,
    val tracer: Option[Tracer], val check: Boolean) {
  val checks = new Checks
  val calls = mutable.ArrayBuffer.empty[(String, Double)]
  def callMs: Seq[Double] = calls.map(_._2).toSeq
  /** Per-layer values that are not span sums (sizes, cache counts). */
  val counts = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  /** Set when every call and check of the pass ran to its end. */
  var completed = false
  /** Heap in use after a full collection once the calls are done. */
  var liveHeapMb = Double.NaN

  /** Time one call into the program; under tracing, also a span. */
  def call[T](name: String)(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.fold(body)(_.span(name)(body))
      calls += ((name, (System.nanoTime() - t0) / 1e6))
      r
    } catch { case e: Throwable => failed += 1; throw e }
  }

  def path(name: String): String = dir.resolve(name).toString

  /** Mark the end of the pass's calls, before its checks. A checked pass
    * records the heap it leaves live here: persisted frames, loaded state
    * stores and collected results are still referenced, the checks' own
    * recomputations not yet made. */
  def callsDone(): Unit =
    if (check && liveHeapMb.isNaN) liveHeapMb = Main.liveHeapMb(spark)
}

trait Workload {
  /** Write this workload's inputs under `dir`; keep what the checks need. */
  def generate(spark: SparkSession, dir: Path, seed: Long, tiny: Boolean): Unit
  /** One whole pass: the timed calls, `p.callsDone()`, then (when
    * `p.check`) the checks. */
  def pass(p: Pass): Unit
  /** Self-test: the checks must reject corrupted outputs of the last checked pass. */
  def corruptionsCaught(): Seq[(String, Boolean)]
}

object Main {

  final case class Opts(workload: String = "", seed: Long = 1L,
      seconds: Double = 10.0, trace: Boolean = false, root: String = "",
      t0Ms: Long = 0L, cores: Int = 4, setups: Int = 2,
      selftest: Boolean = false)

  def parse(args: Array[String]): Opts =
    args.grouped(2).foldLeft(Opts()) {
      case (o, Array("--workload", v)) => o.copy(workload = v)
      case (o, Array("--seed", v)) => o.copy(seed = v.toLong)
      case (o, Array("--seconds", v)) => o.copy(seconds = v.toDouble)
      case (o, Array("--trace", v)) => o.copy(trace = v == "1")
      case (o, Array("--root", v)) => o.copy(root = v)
      case (o, Array("--t0-ms", v)) => o.copy(t0Ms = v.toLong)
      case (o, Array("--cores", v)) => o.copy(cores = v.toInt)
      case (o, Array("--setups", v)) => o.copy(setups = v.toInt)
      case (o, Array("--selftest", v)) => o.copy(selftest = v == "1")
      case (_, a) => throw new IllegalArgumentException(s"bad argument ${a.mkString(" ")}")
    }

  def workload(name: String): Workload = name match {
    case "research_loop" => new ResearchLoop
    case "feature_store" => new FeatureStore
    case "kappa_stream" => new KappaStream
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Fixed, not derived from the host, so runs compare across hosts. */
  val Shuffle = 4

  def session(o: Opts, root: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("lifebench")
      .config("spark.sql.shuffle.partitions", Shuffle.toString)
      .config("spark.default.parallelism", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the status store keeps a bounded window of finished work, so the
      // heap it holds does not grow with the passes a run has made
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.streaming.ui.retainedQueries", "10")
      .config("spark.sql.streaming.ui.retainedProgressUpdates", "10")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(Files.deleteIfExists)
    }

  /** Heap in use right after a full collection, in MiB, once the listener
    * bus has delivered every event of the calls before it. */
  def liveHeapMb(spark: SparkSession): Double = {
    org.apache.spark.LifebenchBus.drain(spark.sparkContext)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  /** Release everything the pass persisted, as the program's own Bench
    * does between queries: Forest.build persists shared nodes and never
    * releases them. The state stores of a finished drain stay loaded
    * until Spark's maintenance task happens to unload them; unloading
    * them here starts every pass alike. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    org.apache.spark.sql.execution.streaming.state.LifebenchState.unloadAll()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val root = Paths.get(o.root)
    val w = workload(o.workload)
    var spark: SparkSession = null
    // set up `setups` times: session, inputs and an untimed warm-up pass;
    // the first from process start, later ones after restarting the
    // session. setup_s is their median; the later warm-ups also carry the
    // JVM further along its warm-up before the timed passes.
    val setupS = (1 to o.setups).map { r =>
      val t0 = if (r == 1 && o.t0Ms > 0)
          System.nanoTime() - (System.currentTimeMillis() - o.t0Ms) * 1000000L
        else System.nanoTime()
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      spark = session(o, root)
      deleteTree(root.resolve(s"inputs-${r - 1}"))
      w.generate(spark, root.resolve(s"inputs-$r"), o.seed, o.selftest)
      val warm = new Pass(spark, root.resolve(s"warm-$r"), None, check = false)
      val tw = System.nanoTime()
      w.pass(warm)
      release(spark)
      deleteTree(warm.dir)
      System.err.println(f"[lifebench] set-up $r: warm-up pass ${(System.nanoTime() - tw) / 1e9}%.3f s")
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(f"[lifebench] setups ${setupS.map(x => f"$x%.3f").mkString(" ")} s")

    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    val passes = mutable.ArrayBuffer.empty[Pass]
    val layer = mutable.ArrayBuffer.empty[Map[String, Double]]
    val failures = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < o.seconds) {
      val p = new Pass(spark, root.resolve(s"pass-$i"), tracer, check = true)
      val from = tracer.map(_.spans.size).getOrElse(0)
      try { w.pass(p); p.callsDone(); p.completed = true }
      catch {
        case e: Throwable =>
          // a call that threw counts as failed, and the pass's checks did
          // not run, so its outputs are unverified
          p.checks("pass completes")(false, e.toString)
          System.err.println(s"[lifebench] pass $i failed: $e")
          e.printStackTrace()
      }
      tracer.foreach { t =>
        t.settle()
        layer += Layers.perPass(t.since(from), p.counts.toMap)
      }
      System.err.println(f"[lifebench] pass $i at ${(System.nanoTime() - t0) / 1e9}%.1f s: ${p.callMs.sum / 1e3}%.3f s, ${p.liveHeapMb}%.1f MB live; " +
        p.calls.map { case (n, ms) => f"$n=$ms%.0f" }.mkString(" "))
      release(spark)
      deleteTree(p.dir)
      failures ++= p.checks.failures
      passes += p
      i += 1
    }

    val metrics: Seq[(String, Double, String)] =
      if (o.trace) Layers.names(o.workload).map { case (n, u) =>
        (n, median(layer.toSeq.map(_.getOrElse(n, 0.0))), u)
      }
      else {
        val timed = passes.filter(_.completed).toSeq
        Seq(
          ("setup_s", median(setupS), "s"),
          ("live_heap_mb", median(timed.map(_.liveHeapMb)), "MB"),
          ("pass_s", median(timed.map(_.callMs.sum / 1e3)), "s"))
      }
    failures.distinct.take(20).foreach(f => System.err.println(s"[lifebench] check failed: $f"))
    val caught = if (o.selftest) w.corruptionsCaught() else Nil
    caught.foreach { case (n, ok) =>
      System.err.println(s"[lifebench] corruption ${if (ok) "caught" else "NOT caught"}: $n")
    }
    val selfFail = caught.filterNot(_._2)
    val correct = failures.isEmpty && passes.forall(_.attempted > 0) && selfFail.isEmpty
    tracer.foreach(_.stop())
    spark.stop()
    // a metric with no completed pass behind it is no measurement: no result
    val missing = metrics.filter { case (_, v, _) => v.isNaN || v.isInfinite }.map(_._1)
    if (missing.nonEmpty) {
      System.err.println(s"[lifebench] no completed timed pass for ${missing.mkString(", ")}")
      sys.exit(1)
    }
    val json = new StringBuilder("{\"correct\": ").append(correct)
      .append(", \"attempted\": ").append(passes.map(_.attempted).sum)
      .append(", \"failed\": ").append(passes.map(_.failed).sum)
      .append(", \"metrics\": {")
      .append(metrics.map { case (n, v, u) =>
        s"\"$n\": {\"value\": $v, \"unit\": \"$u\"}"
      }.mkString(", "))
      .append("}}")
    println(s"LIFEBENCH_RESULT $json")
  }
}
