package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The one run-counters listener of the check and probe mains
  * ([[Probe]] `jobs`, [[ClusterCheck]], [[streaming.StreamKillCheck]]):
  * per [[reset]] window it counts jobs (id, wall, description: SQL
  * execution id and plan operator),
  * completed stages, ended task attempts and the failed ones,
  * executors added and removed, and memory/disk bytes spilled.
  *
  * The listener bus is asynchronous, so read the counters after
  * [[settle]]: it posts a marker event behind everything the caller's
  * actions posted (an `unpersist` of an empty RDD, which starts no
  * job), then polls until this listener has seen the marker and every
  * job it saw start has ended. Events reach one listener in post
  * order, and a job's task-end events precede its job-end event.
  */
final class RunCounters(sc: SparkContext) extends SparkListener {
  private val open = new ConcurrentHashMap[Int, (Long, String)]()
  private val ended = new ConcurrentLinkedQueue[(Int, Double, String)]()
  private val marker = new AtomicInteger(-1)
  val stages, tasks, failedTasks = new AtomicInteger(0)
  val executorsAdded, executorsRemoved = new AtomicInteger(0)
  val memSpilled, diskSpilled = new AtomicLong(0)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    open.put(js.jobId, (System.nanoTime(), RunCounters.describe(js.properties)))
    ()
  }
  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(open.remove(je.jobId)).foreach { case (t0, desc) =>
      ended.add((je.jobId, (System.nanoTime() - t0) / 1e9, desc)); ()
    }
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (te.reason != org.apache.spark.Success) failedTasks.incrementAndGet()
    Option(te.taskMetrics).foreach { m =>
      memSpilled.addAndGet(m.memoryBytesSpilled)
      diskSpilled.addAndGet(m.diskBytesSpilled)
    }
  }
  override def onExecutorAdded(e: SparkListenerExecutorAdded): Unit = {
    executorsAdded.incrementAndGet(); ()
  }
  override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit = {
    executorsRemoved.incrementAndGet(); ()
  }
  override def onUnpersistRDD(u: SparkListenerUnpersistRDD): Unit = {
    marker.compareAndSet(u.rddId, -1); ()
  }

  /** Ended jobs of this window as (id, wall seconds, description), by id. */
  def jobs: Seq[(Int, Double, String)] =
    ended.toArray(Array.empty[(Int, Double, String)]).toSeq.sortBy(_._1)

  /** Zero every counter and forget every job, open or ended. */
  def reset(): Unit = {
    open.clear(); ended.clear()
    Seq(stages, tasks, failedTasks, executorsAdded, executorsRemoved).foreach(_.set(0))
    memSpilled.set(0); diskSpilled.set(0)
  }

  /** Block until the listener has caught up with every event posted
    * so far and no job it saw start is still open, or 10 s passed.
    * Returns whether it settled.
    */
  def settle(): Boolean = {
    val rdd = sc.emptyRDD[Unit]
    marker.set(rdd.id)
    rdd.unpersist()
    RunCounters.await(10000)(marker.get == -1 && open.isEmpty)
  }
}

object RunCounters {

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A job's description from its local properties: the job
    * description if one was set, the SQL execution id and the name of
    * the plan operator whose RDD scope submitted it, e.g.
    * `exec 1 BroadcastExchange`. Stage names do not attribute a job:
    * on Spark 4.1 they read `$anonfun$withThreadLocalCaptured$2 at
    * CompletableFuture.java:…` for nearly every stage.
    */
  private def describe(props: java.util.Properties): String = {
    def prop(k: String) = Option(props).flatMap(p => Option(p.getProperty(k)))
    (prop("spark.job.description") ++
      prop("spark.sql.execution.id").map(id => s"exec $id") ++
      prop("spark.rdd.scope").map(s => json.readTree(s).path("name").asText())
        .filter(_.nonEmpty)).mkString(" ")
  }

  /** A [[RunCounters]] registered on `sc`'s listener bus. */
  def attach(sc: SparkContext): RunCounters = {
    val c = new RunCounters(sc)
    sc.addSparkListener(c)
    c
  }

  /** Poll `cond` every 50 ms until it holds or `timeoutMs` passed;
    * returns its last value.
    */
  def await(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
    cond
  }
}
