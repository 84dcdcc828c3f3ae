package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span of the benchmark's own code: run, round, pass, op, build, action,
  * check.  Wall-clock milliseconds place listener events inside spans;
  * durations come from `System.nanoTime`. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startMs: Long, endMs: Long, seconds: Double)

/** In-memory span log, written out once when the run ends. */
final class Spans {
  val all = ArrayBuffer.empty[Span]

  def timed[A](parent: Int, kind: String, name: String)(body: Int => A): (A, Span) = {
    val id = all.size
    all += null // reserve the id so children can point at it
    val m0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    def close(): Span = {
      val s = Span(id, parent, kind, name, m0, System.currentTimeMillis(),
        (System.nanoTime() - n0) / 1e9)
      all(id) = s
      s
    }
    val a = try body(id) catch { case e: Throwable => close(); throw e }
    (a, close())
  }
}

/** Listener-side records.  Spark jobs and stages are tied to a span through
  * the job group the benchmark sets before each build, action and stage
  * call; micro-batch jobs carry their stream's run id as group, which
  * [[Trace]] ties to the op that started the stream.  Catalyst phases carry
  * no group and are placed by their wall-clock timestamps. */
final class Trace(spark: SparkSession) {
  final case class Job(group: String, startMs: Long, var endMs: Long)
  final case class Stage(group: String, tasks: Int, runMs: Long, cpuNs: Long,
                         shuffleRead: Long, shuffleWrite: Long,
                         inputBytes: Long, inputRecords: Long, spill: Long)
  final case class Phase(name: String, startMs: Long, endMs: Long)
  final case class Progress(runId: String, inputRows: Long, batchMs: Long,
                            stateRows: Long, stateBytes: Long)

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stages = ArrayBuffer.empty[Stage]
  val queries = ArrayBuffer.empty[Seq[Phase]]
  val progress = ArrayBuffer.empty[Progress]
  /** stream run id -> group of the op that started it */
  val streamOwner = mutable.Map.empty[String, String]

  private val stageGroup = mutable.Map.empty[(Int, Int), String]
  @volatile private var current = ""

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs(e.jobId) = Job(groupOf(e.properties), e.time, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      stageGroup((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = groupOf(e.properties)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val i = e.stageInfo
      val g = stageGroup.remove((i.stageId, i.attemptNumber())).getOrElse("")
      val m = i.taskMetrics
      if (m != null)
        stages += Stage(g, i.numTasks, m.executorRunTime, m.executorCpuTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases.toSeq.map { case (n, s) => Phase(n, s.startTimeMs, s.endTimeMs) }
      Trace.this.synchronized { queries += ps }
    }
  }

  private val streamListener = new StreamingQueryListener {
    // called synchronously on the thread that starts the stream
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Trace.this.synchronized { streamOwner(e.runId.toString) = current }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      Trace.this.synchronized {
        progress += Progress(p.runId.toString, p.numInputRows, ms,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for every posted event, then stop listening. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def group(g: String): Unit = {
    current = g
    if (g.isEmpty) spark.sparkContext.clearJobGroup()
    else spark.sparkContext.setJobGroup(g, g)
  }

  /** The op group a listener group belongs to (stream run ids map to the
    * op that started the stream). */
  def owner(g: String): String = synchronized(streamOwner.getOrElse(g, g))
}

object Trace {
  /** Total length of the union of [start, end) intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (s, e) = (Long.MinValue, Long.MinValue)
    for ((a, b) <- iv.sortBy(_._1)) {
      if (a > e) { if (e > s) total += e - s; s = a; e = b }
      else if (b > e) e = b
    }
    if (e > s) total += e - s
    total
  }

  /** `iv` cut to [lo, hi]; empty when they do not overlap. */
  def clip(iv: (Long, Long), lo: Long, hi: Long): (Long, Long) = {
    val start = math.max(iv._1, lo)
    (start, math.max(start, math.min(iv._2, hi)))
  }
}
