package graft.streaming

import graft.{ClusterCheck, ContentHash, JsonOut, LocalSession, RunCounters}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** Executor-loss survival for STREAMING state (the axis ClusterCheck
  * proves for batch): each stateful operator replays the same staged
  * micro-batch sequence twice on a real multi-process cluster
  * (`local-cluster[N,cores,memMB]`) — once undisturbed (reference),
  * once with one executor JVM `kill -9`'d mid-stream — and the two
  * parquet sinks must be content-identical.
  *
  * What a kill exercises that no single-JVM test can: the lost
  * executor held live HDFSBackedStateStore instances (window
  * aggregation state, dedup key set, open flatMapGroupsWithState
  * session buffers) and unflushed shuffle blocks. Recovery is the
  * documented contract — tasks retry on the surviving executor,
  * state reloads from the checkpoint's delta/snapshot files, the
  * standalone master relaunches the dead executor, and the parquet
  * sink's manifest commit protocol makes a retried batch invisible —
  * so the gate is exact equality, not "mostly recovered":
  * order-independent [[graft.ContentHash]] match per operator, plus
  * per-key exactly-once assertions on the killed run's sink.
  *
  * A kill that lands after the run finished proves nothing; each
  * killed run's receipt carries `executors_removed`/`tasks_failed`
  * so the artifact shows the loss landed mid-query (lower
  * SPARK_GRAFT_KILL if a run outruns the delay).
  *
  * Usage: runMain graft.streaming.StreamKillCheck <sfDir> <out.json>
  *          [nBatches=40]
  * Env: SPARK_GRAFT_MASTER (default local-cluster[2,6,10240]),
  *      SPARK_GRAFT_CPUS (shuffle partitions, default: all cores),
  *      SPARK_GRAFT_KILL (seconds into each killed run; default 10).
  *      A `local-cluster` master started outside spark-submit (e.g.
  *      from sbt) also needs Spark's own SPARK_SCALA_VERSION=2.13, or
  *      every executor launch fails with "Cannot find any build
  *      directories".
  */
object StreamKillCheck {

  private final case class RunStats(rows: Long, hash: String,
                                    wallSec: Double, removed: Int,
                                    failedTasks: Int, err: String,
                                    outDir: String,
                                    curve: StreamSoak.SoakCurve)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outPath = args(1)
    val nBatches = if (args.length > 2) args(2).toInt else 40
    val killAtSec = sys.env.getOrElse("SPARK_GRAFT_KILL", "10").toDouble

    val spark = LocalSession(
      ClusterCheck.clusterConf("local-cluster[2,6,10240]"): _*)
    val master = spark.sparkContext.master
    val counters = RunCounters.attach(spark.sparkContext)
    ClusterCheck.awaitExecutors(spark.sparkContext)

    // one staged drop sequence shared by every run: identical file
    // order (sequential writes) => identical micro-batch boundaries
    // and watermark march in reference and killed runs alike
    val glob = StreamSoak.stageDrops(spark, sfDir, nBatches)

    def runOnce(op: String, kill: Boolean)
               (build: DataFrame => org.apache.spark.sql.Dataset[_]): RunStats = {
      ClusterCheck.awaitExecutors(spark.sparkContext)
      counters.settle()
      counters.reset()
      val out = java.nio.file.Files
        .createTempDirectory(s"graft-skc-out-$op").toString
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"graft-skc-ckpt-$op").toString
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val killer =
        if (kill) Some(ClusterCheck.killOneExecutorAfter(killAtSec, done, s"stream-$op"))
        else None
      // per-batch state-store rows (the StreamSoak observable): the
      // KILLED run's curve proves state not only recovers
      // content-correct but keeps PLATEAUING after the executor loss —
      // a recovery that reloaded state into an unbounded shape would
      // pass the hash gate and still die at hour N on a cluster
      val qname = s"skc_$op" + (if (kill) "_kill" else "_ref")
      val recorder = new StreamSoak.BatchRecorder(spark, qname)
      def settled(): Unit = {
        done.set(true)
        killer.foreach(_.awaitLanded(counters))
        counters.settle(); ()
      }
      val t0 = System.nanoTime()
      try {
        recorder.await(build(EventStreamJob.readEventStream(spark, glob))
          .toDF()
          .writeStream
          .queryName(qname)
          .outputMode("append")
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start())
        settled()
        val sink = spark.read.parquet(out)
        val (n, h) = ContentHash.rowsAndHash(sink)
        RunStats(n, h, (System.nanoTime() - t0) / 1e9,
          counters.executorsRemoved.get, counters.failedTasks.get, "", out,
          StreamSoak.curveOf(op, recorder.points))
      } catch {
        case e: Throwable =>
          settled()
          RunStats(-1, "null", (System.nanoTime() - t0) / 1e9,
            counters.executorsRemoved.get, counters.failedTasks.get,
            e.toString.take(300), out, StreamSoak.curveOf(op, recorder.points))
      } finally recorder.close()
    }

    // exactly-once key sets per operator, asserted on the KILLED sink
    val ops: Seq[(String, DataFrame => org.apache.spark.sql.Dataset[_],
                  Seq[String])] = Seq(
      ("hourly_agg", EventStreamJob.hourlyAgg(_), Seq("hour_start", "event_type")),
      ("dedup", EventStreamJob.dedupEvents(_), Seq("event_id")),
      ("sessionize", EventStreamJob.sessionize(_, streaming = true),
        Seq("user_id", "session_start")))

    val results = ops.map { case (op, build, keys) =>
      val ref = runOnce(op, kill = false)(build)
      val killed = runOnce(op, kill = true)(build)
      val hashMatch = ref.err.isEmpty && killed.err.isEmpty &&
        ref.hash == killed.hash && ref.rows == killed.rows
      // exactly-once on the KILLED sink: a retried batch that slipped
      // past the manifest commit would double its keys — the hash
      // match vs the reference would also flip, but the per-key audit
      // localizes the failure to "duplicate emission" vs "lost rows"
      val dupKeys =
        if (killed.err.nonEmpty) -1L
        else spark.read.parquet(killed.outDir)
          .groupBy(keys.map(org.apache.spark.sql.functions.col): _*)
          .count().filter(org.apache.spark.sql.functions.col("count") > 1)
          .count()
      op -> (ref, killed, hashMatch, dupKeys)
    }

    import JsonOut.{jnum, jstr}
    // The plateau criterion is quartile-windowed (StreamSoak): with
    // fewer than ~100 batches the windows are too short to separate
    // "horizon still filling" from "unbounded growth", so short runs
    // report the curve as advisory and only soak-length runs gate on it
    val gateState = nBatches >= 100
    val allOk = results.forall { case (_, (_, killed, m, dups)) =>
      m && killed.removed >= 1 && dups == 0L &&
        (!gateState || killed.curve.plateaued)
    }
    val json = results.map { case (op, (ref, killed, m, dups)) =>
      val kc = killed.curve
      jstr(op) + ":{" +
        s""""rows":${ref.rows},"hash":${jstr(ref.hash)},""" +
        s""""ref_wall_sec":${jnum(ref.wallSec, 1)},""" +
        s""""killed_rows":${killed.rows},"killed_hash":${jstr(killed.hash)},""" +
        s""""killed_wall_sec":${jnum(killed.wallSec, 1)},""" +
        s""""executors_removed":${killed.removed},""" +
        s""""tasks_failed":${killed.failedTasks},""" +
        s""""hash_match":$m,"dup_keys":$dups,""" +
        s""""killed_state_plateaued":${kc.plateaued},""" +
        s""""killed_state_gated":$gateState,""" +
        s""""killed_final_state":${kc.finalState},""" +
        s""""killed_q2_max_state":${kc.q2MaxState},""" +
        s""""killed_q4_max_state":${kc.q4MaxState},""" +
        s""""killed_state_curve":${kc.batches.map(_.stateRows)
             .mkString("[", ",", "]")},""" +
        s""""ref_err":${jstr(ref.err)},"killed_err":${jstr(killed.err)}}"""
    }.mkString(
      "{\"master\":" + jstr(master) +
        ",\"kill_at_sec\":" + killAtSec +
        ",\"n_batches\":" + nBatches +
        ",\"sf\":" + jstr(sfDir) + ",\"ops\":{", ",",
      "},\"all_ok\":" + allOk + "}")
    JsonOut.writeArtifact(outPath, json)
    require(allOk, "stream kill check failed — see artifact")
    spark.stop()
  }
}
