package graft.tools

/** Builder-side probe (never driver-run): run ANY declared SparkEntry
  * query under a StreamingQueryListener and print every micro-batch
  * progress JSON it emits — durationMs breakdown (addBatch, getBatch,
  * walCommit, commitOffsets, queryPlanning, triggerExecution) and
  * state-operator metrics (commit times, state rows, memory) for EVERY
  * streaming query the build starts, including drains whose handle is
  * internal (hashDedupMaintStream & co.). Guide §1.1 empirical loop,
  * drain edition.
  *
  * Usage: sbt "runMain graft.tools.DrainProfile <query> [reps]"
  * (SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS as for Bench).
  */
object DrainProfile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 1
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus.toInt)

    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit =
          println(s"[progress] ${e.progress.json}")
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      })

    (1 to reps).foreach { i =>
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      println(f"=== $name rep $i wall ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
