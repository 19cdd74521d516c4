package graft.streaming

import org.apache.spark.sql.SparkSession

/** The session settings every streaming query of this package runs
  * under. Every public source, builder and drain of [[Streaming]] and
  * [[BlockWriter.start]] calls [[install]] before a query starts. */
object StreamingSession {

  /** Spark's switch that gives each session its own executor
    * classloader for the artifacts it adds. */
  val IsolationKey = "spark.sql.artifact.isolation.enabled"

  /** Apply both streaming settings to `spark`. Idempotent and
    * session-wide; neither overrides a value the user set.
    *
    *  - `spark.sql.streaming.checkpointFileManagerClass` names
    *    [[LocalCheckpointFileManager]], so offset, commit and
    *    state-store files are written without process forks. Set only
    *    when neither the session conf nor the base Hadoop conf names a
    *    manager.
    *  - `spark.sql.artifact.isolation.enabled` is set to `false`. Each
    *    `.start()` runs its query on a clone of the session with a new
    *    session id, and with isolation on (Spark's default) the clone's
    *    tasks run under a fresh executor classloader. Spark's codegen
    *    cache is keyed by classloader and code, so every streaming
    *    query then recompiled every generated class: 229 to 255
    *    compiles per lifebench `kappa_stream` pass (SCALE.md). With
    *    isolation off, clones run their tasks on the executor's default
    *    loader and one query's classes serve the next. Set only when
    *    the session conf does not hold the key. A session that adds
    *    jars or classes through `addArtifact` needs isolation to see
    *    them, so it has to set the key itself. A session that has
    *    already run a query keeps its own setting: its artifact
    *    manager reads the conf once.
    *
    * A query captures the session conf when it starts, so the call
    * must precede `.start()`. */
  def install(spark: SparkSession): Unit = {
    val ckpt = LocalCheckpointFileManager.ConfKey
    if (spark.conf.getOption(ckpt).isEmpty &&
        spark.sparkContext.hadoopConfiguration.get(ckpt) == null)
      spark.conf.set(ckpt, classOf[LocalCheckpointFileManager].getName)
    // getOption would report Spark's default; getAll holds only the
    // keys that were set
    if (!spark.conf.getAll.contains(IsolationKey))
      spark.conf.set(IsolationKey, "false")
  }
}
