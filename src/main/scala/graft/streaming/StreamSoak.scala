package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import scala.collection.mutable.ArrayBuffer

/** Sustained-replay state soak (VERDICT r9 item 5): the bounded-state
  * claims (watermarked windows, `dropDuplicatesWithinWatermark`, the
  * flatMapGroupsWithState sessionizer) were spec-proven on SHORT
  * streams; a stream that is merely correct-per-batch can still grow
  * state monotonically and die at hour N. This harness replays a full
  * events table through each stateful operator as 100+ real
  * micro-batches (time-ordered file drops, `maxFilesPerTrigger=1`,
  * `AvailableNow`) and records the per-batch state-store row count
  * from the progress stream — the observable that must PLATEAU: once
  * the watermark is in steady march, live state is bounded by the
  * watermark horizon (windows/ids/sessions inside it), not by stream
  * length.
  *
  * Plateau gate: max(state rows over the last quarter of batches) ≤
  * 1.3 × max(state rows over the second quarter) — i.e. state stopped
  * growing once the horizon filled — AND final state ≪ total rows fed.
  * Both are required per operator; the JSON artifact carries the full
  * curves for SCALING.md.
  *
  * Usage: runMain graft.streaming.StreamSoak <sfDir> <out.json> [nBatches]
  */
object StreamSoak {

  final case class BatchPoint(batchId: Long, inputRows: Long,
                              stateRows: Long, watermark: String)

  final case class SoakCurve(op: String, batches: Seq[BatchPoint],
                             totalInput: Long, finalState: Long,
                             q2MaxState: Long, q4MaxState: Long) {
    def plateaued: Boolean =
      q4MaxState <= math.max((q2MaxState * 1.3).toLong, 64L) &&
        finalState < math.max(totalInput / 5, 64L)
  }

  /** Split the events table into `n` time-ordered parquet drop files
    * (raw-micros ts, the readEventStream contract) and return the drop
    * directory. Files are written sequentially so discovery order ==
    * event-time order and the watermark marches monotonically.
    */
  def stageDrops(spark: SparkSession, sfDir: String, n: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-soak").toString
    val ev = graft.Tables.load(spark, sfDir, "events")
      .select(col("event_id"), expr("unix_micros(ts)").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .withColumn("b", ntile(n).over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("ts"), col("event_id"))) - 1)
      .localCheckpoint() // one sort; 120 filtered writes read the cut
    (0 until n).foreach { i =>
      ev.filter(col("b") === i).drop("b").coalesce(1)
        .write.mode("overwrite").parquet(f"$dir/drop_$i%04d")
    }
    // the file source walks the glob; point it at the nested files
    dir + "/drop_*"
  }

  /** Assemble a [[SoakCurve]] from raw batch points (shared with
    * [[StreamKillCheck]], which gates the KILLED run's state curve on
    * the same plateau criterion).
    */
  def curveOf(op: String, pts0: Seq[BatchPoint]): SoakCurve = {
    val pts = pts0.sortBy(_.batchId)
    val n = pts.size
    def maxIn(lo: Int, hi: Int) =
      if (lo >= hi) 0L else pts.slice(lo, hi).map(_.stateRows).max
    SoakCurve(op, pts, pts.map(_.inputRows).sum,
      pts.lastOption.map(_.stateRows).getOrElse(0L),
      q2MaxState = maxIn(n / 4, n / 2),
      q4MaxState = maxIn(3 * n / 4, n))
  }

  /** Records the per-batch progress (input rows, state-store rows,
    * watermark) of the ONE streaming query named `name`; shared with
    * [[StreamKillCheck]]. Registered on construction, so create it
    * before starting the query; [[close]] unregisters it.
    */
  final class BatchRecorder(spark: SparkSession, name: String)
      extends StreamingQueryListener {
    private val pts = ArrayBuffer.empty[BatchPoint]
    spark.streams.addListener(this)

    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.name == name) pts.synchronized {
        pts += BatchPoint(p.batchId, p.numInputRows,
          p.stateOperators.map(_.numRowsTotal).sum,
          Option(p.eventTime.get("watermark")).getOrElse(""))
        ()
      }
    }

    def points: Seq[BatchPoint] = pts.synchronized(pts.toSeq)

    /** Await `q`'s termination (rethrowing its failure), then drain.
      * Progress events reach the listener over the async bus and the
      * last batches' can land after awaitTermination, truncating the
      * curve (ADVICE r11). `q.lastProgress` is updated synchronously by
      * the query handle, so poll (bounded) until the listener has
      * caught up to that batchId — also after a failed run, whose
      * partial curve still goes into the artifact.
      */
    def await(q: StreamingQuery): Unit =
      try q.awaitTermination()
      finally {
        val last = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
        def maxSeen = pts.synchronized(
          if (pts.isEmpty) -1L else pts.map(_.batchId).max)
        graft.RunCounters.await(10000)(maxSeen >= last)
      }

    def close(): Unit = spark.streams.removeListener(this)
  }

  /** Replay `srcGlob` through `build`, one file per micro-batch,
    * recording each batch's aggregate state rows.
    */
  def soakOne(spark: SparkSession, srcGlob: String, op: String)
             (build: org.apache.spark.sql.DataFrame =>
                     org.apache.spark.sql.Dataset[_]): SoakCurve = {
    val name = s"soak_$op"
    val recorder = new BatchRecorder(spark, name)
    try {
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft-soak-ckpt-$op").toString
      recorder.await(build(EventStreamJob.readEventStream(spark, srcGlob))
        .writeStream
        .queryName(name)
        .outputMode("append")
        .format("noop") // state behavior is the observable, not the sink
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start())
    } finally recorder.close()
    curveOf(op, recorder.points)
  }

  /** The three stateful operators under soak. */
  def runAll(spark: SparkSession, sfDir: String, nBatches: Int)
      : Seq[SoakCurve] = {
    val glob = stageDrops(spark, sfDir, nBatches)
    Seq(
      soakOne(spark, glob, "hourly_agg")(EventStreamJob.hourlyAgg(_)),
      soakOne(spark, glob, "dedup")(EventStreamJob.dedupEvents(_)),
      soakOne(spark, glob, "sessionize")(
        EventStreamJob.sessionize(_, streaming = true)))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = args(1)
    val nBatches = if (args.length > 2) args(2).toInt else 120
    val spark = graft.LocalSession()

    val curves = runAll(spark, sfDir, nBatches)
    import graft.JsonOut.jstr
    val json = curves.map { c =>
      jstr(c.op) + ":{\"plateaued\":" + c.plateaued +
        ",\"total_input\":" + c.totalInput +
        ",\"final_state\":" + c.finalState +
        ",\"q2_max_state\":" + c.q2MaxState +
        ",\"q4_max_state\":" + c.q4MaxState +
        ",\"curve\":[" + c.batches.map(p =>
          s"""{"batch":${p.batchId},"in":${p.inputRows},""" +
            s""""state":${p.stateRows},"wm":${jstr(p.watermark)}}""")
          .mkString(",") + "]}"
    }.mkString("{\"sf\":" + jstr(sfDir) +
      ",\"n_batches\":" + nBatches + ",\"ops\":{", ",", "}}")
    graft.JsonOut.writeArtifact(outPath, json)
    println(curves.map(c => s"${c.op}: plateaued=${c.plateaued} " +
      s"final=${c.finalState} q2max=${c.q2MaxState} q4max=${c.q4MaxState}")
      .mkString("\n"))
    require(curves.forall(_.plateaued),
      "state soak failed — an operator's state grew with stream length")
    spark.stop()
  }
}
