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
      val counts = Streaming.runAvailableNow(
        spark.readStream.schema("k STRING").parquet(in)
          .groupBy(col("k")).count(),
        rocksdbState = true, noDataBatch = false, statePartitions = Some(2))
      assert(counts.as[(String, Long)].collect().toMap ==
        Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
      assert(spark.conf.getAll == before, s"runAvailableNow: $leaked")

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
  }
}
