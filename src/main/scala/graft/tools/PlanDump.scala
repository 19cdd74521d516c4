package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `explain("formatted")` for named SparkEntry queries to files —
  * the plans/r16 before/after evidence trail for the optimization
  * rounds. Usage:
  *
  *   sbt "runMain graft.tools.PlanDump <outDir> <suffix> [name ...]"
  *
  * Writes <outDir>/<query>_<suffix>.txt per query (all queries when no
  * names given). Session shape matches Bench (`Sessions.local`:
  * shuffle partitions = cores, AQE on) so the dumped initial plans correspond to what the
  * bench executes; plans are captured BEFORE execution, so AQE runtime
  * rewrites (coalesce/skew) are not in them — the committed files show
  * the static plan shape: exchanges, join strategies, pushed filters.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.Sessions.local(cpus.toInt)
    Files.createDirectories(Paths.get(outDir))
    val picks =
      if (names.nonEmpty) names else graft.SparkEntry.queries.keys.toSeq.sorted
    picks.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
        println(s"[plandump] wrote $name ($suffix)")
        // bound cache residency exactly like Verify between queries
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
