package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Sessions
import graft.sources.{BlockCatalog, Ingest}
import graft.streaming.{StreamingSession, Streaming}

/** Prints the settings of a fresh `Sessions.local(cores)` session, one
  * `key=value` line each. [[SessionsSpec]] runs it in a JVM of its
  * own, since the suites' shared session would answer in-process. */
object LocalSessionMain {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(args(0).toInt)
    try {
      println(s"master=${spark.sparkContext.master}")
      Seq("spark.sql.shuffle.partitions", "spark.sql.session.timeZone",
          "spark.sql.adaptive.enabled", "spark.ui.enabled")
        .foreach(k => println(s"$k=${spark.conf.get(k)}"))
    } finally spark.stop()
  }
}

/** What a task of a drain's trigger saw of the caller's session conf:
  * tasks run in this JVM in local mode, so they read the session
  * through this object instead of a serialized copy. */
object ConfProbe {
  @volatile var session: org.apache.spark.sql.SparkSession = _
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, String]]
}

class SessionsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.session

  test("withConfs: a drain and an ingest leave the session conf exactly as they found it") {
    import spark.implicits._
    // keys the two calls flip that are not set in a fresh session;
    // unset them first, so a default written back by an earlier call
    // cannot hide a leak
    val flipped = Seq(
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "spark.sql.streaming.noDataMicroBatches.enabled",
      "spark.sql.files.maxRecordsPerFile")
    val held = spark.conf.getAll.filter { case (k, _) => flipped.contains(k) }
    flipped.foreach(spark.conf.unset)
    // the streaming install's settings are session-wide by design
    StreamingSession.install(spark)
    try {
      val before = spark.conf.getAll
      def leaked = {
        val after = spark.conf.getAll
        s"added ${after.toSet -- before.toSet}, lost ${before.toSet -- after.toSet}"
      }

      val in = Files.createTempDirectory("graft_confs").resolve("in").toString
      Seq("a", "b", "a", "c", "a").toDF("k").write.parquet(in)
      // the flip spans `.start()` alone: a task of the drain's trigger
      // reads the caller's session conf and finds it as it was before
      ConfProbe.session = spark
      ConfProbe.seen.clear()
      val probe = org.apache.spark.sql.functions.udf { (k: String) =>
        ConfProbe.seen.add(ConfProbe.session.conf.getAll); k != null
      }.asNondeterministic()
      val counts = Streaming.runAvailableNow(
        spark.readStream.schema("k STRING").parquet(in)
          .filter(probe(col("k"))).groupBy(col("k")).count(),
        rocksdbState = true, statePartitions = Some(2))
      assert(counts.as[(String, Long)].collect().toMap ==
        Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
      assert(spark.conf.getAll == before, s"runAvailableNow: $leaked")
      import scala.jdk.CollectionConverters._
      val during = ConfProbe.seen.asScala.toSeq
      assert(during.nonEmpty, "the probe ran in no trigger")
      during.foreach(c => assert(c == before, "the drain's confs outlived" +
        s" `.start()`: added ${c.toSet -- before.toSet}, lost ${before.toSet -- c.toSet}"))

      val cat = new BlockCatalog(spark,
        Files.createTempDirectory("graft_confs_cat").toString)
      val rep = Ingest.ingest((0L until 6L).map(t => (t, t * 2)).toDF("ts_us", "v"),
        identity, cat, "f", "k", "ts_us", rowsPerBlock = 2L)
      assert(rep.rows == 6L && rep.stored)
      assert(spark.conf.getAll == before, s"Ingest.ingest: $leaked")
    } finally {
      flipped.foreach(spark.conf.unset)
      held.foreach { case (k, v) => spark.conf.set(k, v) }
    }
  }

  test("Sessions.local: cores threads, cores shuffle partitions, UTC, AQE on") {
    import scala.jdk.CollectionConverters._
    // the child gets the module openings Spark needs and nothing else,
    // so no spark.* system property stands in for the factory
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val opens = jvmArgs.zipWithIndex.flatMap {
      case (a, i) if a == "--add-opens" => Seq(a, jvmArgs(i + 1))
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Nil
    }
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(javaBin, "-Xmx512m") ++ opens ++
      Seq("-cp", System.getProperty("java.class.path"),
        "graft.LocalSessionMain", "3")
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 0, out)
    val settings = out.linesIterator.collect {
      case l if l.contains("=") && !l.contains(" ") =>
        val Array(k, v) = l.split("=", 2); k -> v
    }.toMap
    assert(settings.get("master").contains("local[3]"), out)
    assert(settings.get("spark.sql.shuffle.partitions").contains("3"), out)
    assert(settings.get("spark.sql.session.timeZone").contains("UTC"), out)
    assert(settings.get("spark.sql.adaptive.enabled").contains("true"), out)
    assert(settings.get("spark.ui.enabled").contains("false"), out)
  }

  test("source lint: one session builder, one conf unset, one drain writeStream") {
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root, not ${Paths.get("").toAbsolutePath}")
    val st = Files.walk(root)
    val sources: Map[Path, String] = try st.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(f => root.relativize(f) -> Files.readString(f)).toMap
      finally st.close()
    val home = Paths.get("graft/core/Sessions.scala")
    Seq("SparkSession.builder", "conf.unset").foreach { s =>
      val hits = sources.collect { case (f, text) if text.contains(s) => f }.toSet
      assert(hits == Set(home), s"`$s` outside $home: ${hits - home}")
    }
    val streaming = sources(Paths.get("graft/streaming/Streaming.scala"))
    assert("writeStream".r.findAllMatchIn(streaming).size == 1,
      "Streaming.scala must drain through its one writeStream")
    // the drain derives the output mode and the no-data batch from the
    // plan: no query passes either, and each is set in one place
    val queries = sources.collect {
      case (f, text) if f.startsWith(Paths.get("graft/queries")) &&
        (text.contains("outputMode") || text.contains("noDataBatch")) => f
    }
    assert(queries.isEmpty, s"queries that set a drain's mode or no-data batch: $queries")
    val code = sources.map { case (f, text) => f -> stripComments(text) }
    Seq("noDataMicroBatches", ".outputMode(").foreach { s =>
      val n = code.values.map(java.util.regex.Pattern.quote(s).r.findAllMatchIn(_).size).sum
      assert(n <= 1, s"`$s` appears $n times in src/main; the drain sets it once")
    }
    assert(!code(Paths.get("graft/streaming/BlockWriter.scala")).contains("persist"),
      "BlockWriter flushes every micro-batch; it buffers nothing")
    val catalog = sources(Paths.get("graft/sources/BlockCatalog.scala"))
    assert("xxhash64\\(".r.findAllMatchIn(catalog).size == 1,
      "BlockCatalog.scala must define the block hash in one place")
    // the exact trainer builds every level histogram in its one tuple
    // kernel: no Column-expression level pass, one growTree call site
    val trainer = sources(Paths.get("graft/consumers/Trainer.scala"))
    Seq("stack(", "reachColumn").foreach { s =>
      assert(!trainer.contains(s), s"Trainer.scala builds a level outside its kernel: `$s`")
    }
    assert("growTree\\(".r.findAllMatchIn(trainer).size == 2,
      "Trainer.scala must define growTree once and call it from one place")
    // connected components are one operator with one distributed loop:
    // a union-find on the driver below its bound, large-star above it
    val dedup = code(Paths.get("graft/operators/Dedup.scala"))
    assert("HashPartitioner\\(".r.findAllMatchIn(dedup).size == 1,
      "Dedup.scala must partition one distributed connected-components loop")
    val ccVariants = sources.collect {
      case (f, text) if text.contains("connectedComponentsLargeStar") => f
    }
    assert(ccVariants.isEmpty, s"a second connected-components entry point in $ccVariants")
  }

  /** Public defs of `src/main` that nothing outside their own
    * definition line names, each with the reason it stays. */
  private val uncalled = Map(
    // svoe reference capabilities
    "runSharded" -> "sharded backtest, SURVEY §3.3",
    "scanSplitAtGaps" -> "the gap rule of svoe blocks.py:84-101",
    "parseYaml" -> "FeaturizerConfig YAML entry",
    "fitLinear" -> "trainer surface",
    "fitGBT" -> "trainer surface",
    "modelStrategy" -> "inference-loop surface: a model drives the backtest",
    "exportLibsvm" -> "trainer export surface",
    "exportMatrix" -> "trainer export surface",
    "tsViolationsBySeq" -> "svoe df_utils.py:93-94 ordering check",
    "windowedAgg" -> "the Kappa parity example: one per-event fold, batch and stream",
    "registerQueryViews" -> "SQL entry point",
    "entry" -> "the flagship FeatureLabelSet query of the driver contract",
    "buildPlan" -> "config front door: FeaturizerConfig to FeatureLabelSet",
    // reference twins that specs compare the query path against
    "tviSided" -> "declarative twin of Preprocess.slidingTvi",
    "anomalyExactFlag" -> "exact twin of the sliding anomaly flag",
    "approxQuantiles" -> "the GK sketch the exact quantiles are checked against",
    "simhashPairs" -> "join-form twin of simhashPairsBucketed and the streams",
    "bpeMergeLoopNaive" -> "naive twin of bpeMergeLoop",
    "lshBucket" -> "per-plane twin of the native graft_srp")

  /** The objects whose `main` is an entry point, each with the reason
    * it stays. Any other `main` is a scratch probe and fails the lint. */
  private val entryPoints = Map(
    "Bench" -> "the benchmark main: one JSON line of query timings",
    "Verify" -> "the correctness dump graded against the DuckDB oracles",
    "Explains" -> "writes EXPLAINS.md, the plan evidence",
    "PlanDump" -> "dumps formatted plans of named queries for plan reviews",
    "DrainProfile" -> "prints the progress of every streaming query a drain starts")

  /** `text` with its comments blanked, newlines kept, so line numbers
    * hold; string and char literals are copied as they are. Block
    * comments nest, as in Scala. */
  private def stripComments(text: String): String = {
    val out = new StringBuilder
    val n = text.length
    var i = 0
    var depth = 0
    def blank(from: Int, to: Int): Unit =
      (from until to).foreach(k => out += (if (text(k) == '\n') '\n' else ' '))
    while (i < n) {
      if (depth > 0 || text.startsWith("/*", i)) {
        if (text.startsWith("/*", i)) { depth += 1; blank(i, i + 2); i += 2 }
        else if (text.startsWith("*/", i)) { depth -= 1; blank(i, i + 2); i += 2 }
        else { blank(i, i + 1); i += 1 }
      } else if (text.startsWith("//", i)) {
        val e = text.indexOf('\n', i)
        val j = if (e < 0) n else e
        blank(i, j); i = j
      } else if (text.startsWith("\"\"\"", i)) {
        val e = text.indexOf("\"\"\"", i + 3)
        var j = if (e < 0) n else e + 3
        while (j < n && text(j) == '"') j += 1
        out ++= text.substring(i, j); i = j
      } else if (text(i) == '"') {
        var j = i + 1
        while (j < n && text(j) != '"' && text(j) != '\n')
          j += (if (text(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        out ++= text.substring(i, j); i = j
      } else if (text(i) == '\'' && i + 2 < n && text(i + 2) == '\'') {
        out ++= text.substring(i, i + 3); i += 3
      } else if (text(i) == '\'' && i + 3 < n && text(i + 1) == '\\' &&
          text(i + 3) == '\'') {
        out ++= text.substring(i, i + 4); i += 4
      } else { out += text(i); i += 1 }
    }
    out.toString
  }

  test("caller lint: every public def of src/main is called, or allowlisted with a reason") {
    import scala.jdk.CollectionConverters._
    def read(root: Path): Map[Path, String] = {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(f => f -> stripComments(Files.readString(f))).toMap
      finally st.close()
    }
    val main = read(Paths.get("src/main/scala"))
    val bench = read(Paths.get("lifebench/scala")).values.toSeq
    assert(main.nonEmpty && bench.nonEmpty, "run from the project root")
    // a member of a top-level object or class (two-space indent);
    // `private[pkg]` is visible to specs, so it counts as public here
    val topLevel = """^(?:(?:private(?:\[\w+\])?|final|sealed|abstract|case|implicit)\s+)*(object|class|trait)\s+(\w+)""".r
    val memberDef = """^  (?:(?:final|implicit|lazy|@\w+|private\[\w+\]|protected\[\w+\])\s+)*def\s+([A-Za-z_]\w*)""".r
    val found = for {
      (file, text) <- main.toSeq
      lines = text.split("\n", -1).toIndexedSeq
      owners = lines.scanLeft(Option.empty[(String, String)]) { (k, l) =>
        topLevel.findPrefixMatchOf(l).map(m => (m.group(1), m.group(2))).orElse(k)
      }.tail
      (line, idx) <- lines.zipWithIndex
      (kind, owner) <- owners(idx).toSeq
      if kind == "object" || kind == "class"
      name <- memberDef.findPrefixMatchOf(line).map(_.group(1))
      if name != "apply"
      word = ("(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(name) +
        "(?![A-Za-z0-9_])").r
      rest = (lines.take(idx) ++ lines.drop(idx + 1)).mkString("\n")
      others = main.collect { case (f, t) if f != file => t } ++ bench
      // every `main` names the others, so a main counts as called only
      // through the entry-point list
      if name == "main" || (word.findFirstIn(rest).isEmpty &&
        others.forall(t => word.findFirstIn(t).isEmpty))
    } yield if (name == "main") s"$owner.main" else name
    val mains = found.filter(_.endsWith(".main")).map(_.stripSuffix(".main")).toSet
    assert(mains -- entryPoints.keySet == Set.empty, s"`main` outside the entry" +
      s" points: ${mains -- entryPoints.keySet}; delete it, or list the object with a reason")
    assert(entryPoints.keySet -- mains == Set.empty, s"listed entry points with" +
      s" no main: ${entryPoints.keySet -- mains}; drop them from the list")
    val names = found.filterNot(_.endsWith(".main")).toSet
    val unlisted = names -- uncalled.keySet
    val stale = uncalled.keySet -- names
    assert(unlisted.isEmpty, s"public defs with no caller: $unlisted;" +
      " delete them, or allowlist each with a reason")
    assert(stale.isEmpty, s"allowlisted defs that now have a caller or" +
      s" are gone: $stale; drop them from the list")
  }
}
