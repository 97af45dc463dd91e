package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around its calls into the library, plus
  * (when tracing) the raw Spark job and stage events that the offline
  * analysis attributes to those spans. Micro-batch phases come from each
  * streaming query's own progress reports (`recentProgress`), the same
  * objects a `StreamingQueryListener` receives.
  *
  * Every timestamp is wall-clock milliseconds, the clock Spark stamps its
  * listener events with; spans keep sub-millisecond precision by anchoring
  * `System.nanoTime` to one wall-clock reading. Events are kept in memory
  * and written once, at exit.
  */
object Trace {
  /** Local property carrying the id of the innermost open span: Spark copies
    * it onto every job submitted from the thread (and onto the threads a
    * streaming query starts), which is how jobs find their span. */
  val SpanKey = "perfbench.span"

  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  private val ids = new AtomicLong(0)
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  val events = new ConcurrentLinkedQueue[Map[String, Any]]()

  /** Time `body` as span `name` of request `req` (a query name or a
    * micro-batch id). Nested spans on one thread record their parent. */
  def span[T](sc: SparkContext, name: String, req: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val stack = open.get()
    val prevProp = sc.getLocalProperty(SpanKey)
    open.set(id :: stack)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = nowMs
    try body
    finally {
      val t1 = nowMs
      sc.setLocalProperty(SpanKey, prevProp)
      open.set(stack)
      events.add(Map("ev" -> "span", "id" -> id,
        "parent" -> stack.headOption.getOrElse(0L), "name" -> name,
        "req" -> req, "t0" -> t0, "t1" -> t1))
    }
  }

  /** Job, stage and task-metric events, one per job start/end and per
    * completed stage attempt. Registered only on traced runs. */
  class JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String): String = p.flatMap(x => Option(x.getProperty(k)))
        .getOrElse("")
      events.add(Map("ev" -> "job_start", "job" -> e.jobId,
        "t" -> e.time.toDouble, "stages" -> e.stageIds,
        "span" -> prop(SpanKey), "batch" -> prop("streaming.sql.batchId"),
        "query" -> prop("sql.streaming.queryId")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      events.add(Map("ev" -> "job_end", "job" -> e.jobId,
        "t" -> e.time.toDouble))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      events.add(Map("ev" -> "stage", "stage" -> s.stageId,
        "attempt" -> s.attemptNumber(),
        "t0" -> s.submissionTime.getOrElse(0L).toDouble,
        "t1" -> s.completionTime.getOrElse(0L).toDouble,
        "tasks" -> s.numTasks,
        "run_ms" -> (if (m == null) 0L else m.executorRunTime),
        "shuffle_read" -> (if (m == null) 0L
          else m.shuffleReadMetrics.totalBytesRead),
        "shuffle_write" -> (if (m == null) 0L
          else m.shuffleWriteMetrics.bytesWritten),
        "spill" -> (if (m == null) 0L
          else m.memoryBytesSpilled + m.diskBytesSpilled)))
    }
  }

}

/** A micro-batch progress report flattened to the fields the analysis
  * reads. */
object Progress {
  def toMap(p: org.apache.spark.sql.streaming.StreamingQueryProgress)
  : Map[String, Any] = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    Map("query_id" -> p.id.toString, "batch" -> p.batchId,
      "t" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      "rows" -> p.numInputRows, "dur" -> d.toMap,
      "state" -> p.stateOperators.toSeq.map(s => Map(
        "op" -> s.operatorName, "rows" -> s.numRowsTotal,
        "mem" -> s.memoryUsedBytes, "commit_ms" -> s.commitTimeMs,
        "dropped" -> s.numRowsDroppedByWatermark)))
  }
}
