package lifebench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced call into a layer: name, wall interval, parent span, and
  * the Spark work attributed to it. */
final class Span(val id: Int, val name: String, val parent: Int,
    val startNs: Long, val startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var singleTaskStages = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var deserializeMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  // streaming progress of the queries started inside this span
  var triggers = 0L
  var addBatchMs = 0L
  var queryPlanningMs = 0L
  var walCommitMs = 0L
  var latestOffsetMs = 0L
  var stateCommitMs = 0L
  var stateUpdateMs = 0L
  var stateRows = 0L
  var stateMemoryBytes = 0L
  var dedupDropped = 0L
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into the program, with Spark jobs,
  * stages, tasks and streaming progress attributed to them.
  *
  * Attribution: every call runs under a job group `lifebench-<span id>`
  * set on the calling thread, so each job's start event names its span.
  * A streaming query runs its jobs under its own run id; the query's
  * start event (delivered synchronously by `start()`) binds that run id
  * to the innermost open span. Listener events arrive asynchronously,
  * so [[settle]] drains the listener bus before the spans are read.
  * Nothing is added inside the program. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Span]
  private var stack: List[Span] = Nil
  private val runIdSpan = new java.util.concurrent.ConcurrentHashMap[String, Span]
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]

  private def spanOfGroup(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap { g =>
        if (g.startsWith("lifebench-"))
          Option(byId.get(g.stripPrefix("lifebench-").toInt))
        else Option(runIdSpan.get(g))
      }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOfGroup(e.properties).foreach { s =>
        s.synchronized { s.jobs += 1 }
        e.stageIds.foreach(id => stageSpan.put(id, s))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        s.synchronized {
          s.stages += 1
          if (e.stageInfo.numTasks == 1) s.singleTaskStages += 1
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        s.synchronized {
          s.tasks += 1
          s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
          if (m != null) {
            s.taskRunMs += m.executorRunTime
            s.taskCpuNs += m.executorCpuTime
            s.deserializeMs += m.executorDeserializeTime
            s.gcMs += m.jvmGCTime
            s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      Tracer.this.synchronized(stack.headOption)
        .foreach(s => runIdSpan.put(e.runId.toString, s))
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Option(runIdSpan.get(e.progress.runId.toString)).foreach { s =>
        val p = e.progress
        def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        s.synchronized {
          s.triggers += 1
          s.addBatchMs += d("addBatch")
          s.queryPlanningMs += d("queryPlanning")
          s.walCommitMs += d("walCommit")
          s.latestOffsetMs += d("latestOffset")
          var rows = 0L
          var mem = 0L
          p.stateOperators.foreach { op =>
            s.stateCommitMs += op.commitTimeMs
            rows += op.numRowsTotal
            mem += op.memoryUsedBytes
            val cm = op.customMetrics
            def c(k: String): Long = Option(cm.get(k)).map(_.longValue).getOrElse(0L)
            s.dedupDropped += c("numDroppedDuplicateRows")
            s.stateUpdateMs += op.allUpdatesTimeMs + op.allRemovalsTimeMs
          }
          // state size is a level, not a flow: keep the latest trigger's
          s.stateRows = rows
          s.stateMemoryBytes = mem
        }
      }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.streams.addListener(streamListener)

  def span[T](name: String)(body: => T): T = {
    val s = synchronized {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val sp = new Span(spans.size, name, parent, System.nanoTime(),
        System.currentTimeMillis())
      spans += sp
      byId.put(sp.id, sp)
      stack = sp :: stack
      sp
    }
    sc.setJobGroup(s"lifebench-${s.id}", s"lifebench:$name")
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      synchronized { stack = stack.tail }
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"lifebench-${p.id}", s"lifebench:${p.name}")
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Wait until every posted listener event has been handled. */
  def settle(): Unit = org.apache.spark.LifebenchBus.drain(sc)

  def stop(): Unit = {
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  /** Spans opened since `from` (an index into [[spans]]). */
  def since(from: Int): Seq[Span] = spans.drop(from).toSeq
}
