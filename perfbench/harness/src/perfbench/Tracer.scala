package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer; an operation is a
  * root span, and the spans inside it are its descendants.
  */
final class Span(val id: Long, val layer: String, val parent: Option[Span]) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  var endNs: Long = 0L
  val children: ArrayBuffer[Span] = ArrayBuffer()
  def wallS: Double = (endNs - startNs) / 1e9
  /** Duration minus the part of it the child spans cover. */
  def selfS: Double = wallS - children.map(_.wallS).sum
}

/** Spark work attributed to one span by the listeners. */
final class Counts {
  var jobs, stages, tasks = 0L
  var jobWallMs, planMs = 0L
  var cpuNs, runMs, gcMs, schedulerDelayMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
}

/** Spans from the benchmark's side of each call, and the three Spark
  * listeners that attribute jobs, stages, tasks, planning phases and
  * streaming micro-batches to whichever span is open. Jobs carry the
  * span id as a local property, so attribution does not depend on when
  * the asynchronous listener bus delivers an event; streaming batches
  * and plans without a job fall back to the operation open at delivery,
  * which is exact because the tracer drains the bus after every
  * operation.
  */
final class Tracer(spark: SparkSession) {
  private val SpanKey = "perfbench.span"
  private val nextId = new AtomicLong(1)
  private var stack: List[Span] = Nil
  @volatile private var openOp: Long = 0L

  val roots: ArrayBuffer[Span] = ArrayBuffer()
  val counts = new ConcurrentHashMap[Long, Counts]()
  val batches = new ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]()
  private val stageSpan = TrieMap[Int, Long]()
  private val jobStart = TrieMap[Int, (Long, Long)]()
  private val execSpan = TrieMap[Long, Long]()
  private val plans = new ConcurrentLinkedQueue[(Long, Long, Long)]()

  def countsOf(spanId: Long): Counts = counts.computeIfAbsent(spanId, _ => new Counts)

  def open(layer: String): Span = {
    val s = new Span(nextId.getAndIncrement(), layer, stack.headOption)
    s.parent.fold { roots += s; openOp = s.id } { _.children += s }
    stack = s :: stack
    spark.sparkContext.setLocalProperty(SpanKey, s.id.toString)
    s
  }

  def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    stack = stack.tail
    spark.sparkContext.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
  }

  def span[A](layer: String)(f: => A): A = {
    val s = open(layer)
    try f finally close(s)
  }

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong).getOrElse(openOp)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = spanOf(e.properties)
      e.stageInfos.foreach(si => stageSpan.put(si.stageId, id))
      jobStart.put(e.jobId, (id, e.time))
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.putIfAbsent(x.toLong, id))
      val c = countsOf(id); c.synchronized { c.jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStart.remove(e.jobId).foreach { case (id, t0) =>
        val c = countsOf(id); c.synchronized { c.jobWallMs += e.time - t0 }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageSpan.get(e.stageInfo.stageId).foreach { id =>
        val c = countsOf(id); c.synchronized { c.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageSpan.get(e.stageId).foreach { id =>
        val c = countsOf(id)
        val info = e.taskInfo
        val m = e.taskMetrics
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            val gettingResult =
              if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
            c.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
            c.cpuNs += m.executorCpuTime
            c.runMs += m.executorRunTime
            c.gcMs += m.jvmGCTime
            c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.add((qe.id, openOp, qe.tracker.phases.values.map(_.durationMs).sum))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      batches.add((openOp, e.progress))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until every posted event has reached the listeners, then
    * books the planning time of each finished query execution on the
    * span that ran its jobs (or, for a job-less plan, on the operation
    * open when it finished).
    */
  def drain(): Unit = {
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    var p = plans.poll()
    while (p != null) {
      val (execId, op, ms) = p
      val c = countsOf(execSpan.getOrElse(execId, op))
      c.synchronized { c.planMs += ms }
      p = plans.poll()
    }
  }

  /** Every span of every closed operation, roots first. */
  def allSpans: Seq[Span] = {
    def walk(s: Span): Seq[Span] = s +: s.children.toSeq.flatMap(walk)
    roots.toSeq.flatMap(walk)
  }

  def batchesOf(op: Long): Seq[StreamingQueryProgress] =
    batches.asScala.collect { case (o, p) if o == op => p }.toSeq
}
