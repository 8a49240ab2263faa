package graft

import java.util.concurrent.atomic.AtomicBoolean

/** Scale-correctness harness for the two execution axes a single-JVM
  * `local[32]` bench never exercises — multiple executor processes
  * (VERDICT r9 item 1) and spill under memory pressure (VERDICT r8
  * item 1). It runs a query list and records per query the row count,
  * an order-independent [[ContentHash]] and the run's counters
  * ([[RunCounters]]: executors added/removed, failed tasks, memory and
  * disk bytes spilled), so every mode below is diffable against a
  * base run by hash (`tools/check_cluster.py`):
  *
  *  - base: `SPARK_GRAFT_MASTER=local[32]` (the Bench shape) — fresh
  *    hashes on the current data.
  *  - cluster: `SPARK_GRAFT_MASTER=local-cluster[2,8,8192]` — same
  *    queries on a REAL multi-process master (in-process standalone
  *    master + workers, separate executor JVMs, netty shuffle over the
  *    loopback network, remote block fetch).
  *  - kill: `SPARK_GRAFT_KILL=<sec>` — a daemon thread waits that
  *    many seconds into EACH query, then `kill -9`s one live
  *    CoarseGrainedExecutorBackend JVM. The standalone master
  *    relaunches an executor; lost tasks retry and lost shuffle
  *    blocks re-fetch (FetchFailed → stage retry). The record's
  *    `executors_removed`/`tasks_failed` PROVE the kill landed
  *    mid-query (a kill that fired after completion shows 0 and
  *    proves nothing — lower the delay).
  *  - reliable: `SPARK_GRAFT_CKPT_DIR=<dir>` — sets
  *    `spark.graft.checkpointDir`, so the iterative family's cuts go
  *    through fault-tolerant `df.checkpoint()` ([[Barrier]]'s
  *    documented executor-loss promise) instead of lazy
  *    localCheckpoint, and must survive the same kill with identical
  *    hashes. (Lazy localCheckpoint blocks live on the killed executor
  *    and their lineage is CUT — an executor loss there is
  *    unrecoverable by design; reliable checkpoints are the documented
  *    fix, this mode measures it.) The artifact's `barrier` field reads
  *    `RELIABLE_CHECKPOINT` in this mode, empty otherwise.
  *  - spill: `SPARK_GRAFT_SPILL=force` — the same queries under a
  *    memory regime that makes the spill paths actually execute
  *    ([[forceSpill]]; ideally in a small-heap JVM, e.g. -Xmx4g).
  *    Identical hashes + nonzero `mem_spilled`/`disk_spilled` = the
  *    operators' results are invariant under spill pressure; a run
  *    that spilled zero bytes proves nothing and says so. The off/force
  *    pair is `SPARK_GRAFT_MASTER=local[N]` with and without it.
  *    Results land in SCALING.md §spill.
  *
  * Usage: runMain graft.ClusterCheck <sfDir> <out.json> <q1,q2,…>
  * Env: SPARK_GRAFT_MASTER (default local-cluster[2,8,8192]),
  *      SPARK_GRAFT_CPUS (shuffle partitions, default: all cores),
  *      SPARK_GRAFT_KILL (seconds into each query to kill; off if
  *      unset), SPARK_GRAFT_CKPT_DIR (fault-tolerant checkpoint dir;
  *      reliable mode if set),
  *      SPARK_GRAFT_SPILL (`force` for the spill regime; off if unset).
  *      A `local-cluster` master started outside spark-submit (e.g.
  *      from sbt) also needs Spark's own SPARK_SCALA_VERSION=2.13, or
  *      every executor launch fails with "Cannot find any build
  *      directories".
  */
object ClusterCheck {

  /** Live executor-backend JVM pids on this box (excludes the driver:
    * executors run `CoarseGrainedExecutorBackend` as their main).
    * Shared with [[streaming.StreamKillCheck]]'s mid-stream kill.
    */
  private[graft] def executorPids(): Seq[Int] =
    Option(new java.io.File("/proc").listFiles()).toSeq.flatten
      .filter(_.getName.forall(_.isDigit))
      .flatMap { f =>
        try {
          val cmd = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(f.getPath, "cmdline")), "UTF-8")
          if (cmd.contains("CoarseGrainedExecutorBackend"))
            Some(f.getName.toInt)
          else None
        } catch { case _: Exception => None }
      }.sorted

  /** On a `local-cluster[N,…]` master, wait (bounded) until N
    * executors have registered with the driver: at start, and between
    * runs while the standalone master relaunches a killed one. The
    * status tracker is fed from the listener bus, so their
    * `ExecutorAdded` events are posted before a following
    * [[RunCounters.settle]]'s marker and fall before its reset.
    */
  private[graft] def awaitExecutors(sc: org.apache.spark.SparkContext): Unit =
    if (sc.master.startsWith("local-cluster[")) {
      val n = sc.master.stripPrefix("local-cluster[").takeWhile(_ != ',').trim.toInt
      // the executor list includes the driver
      require(RunCounters.await(120000)(sc.statusTracker.getExecutorInfos.length >= n + 1),
        s"cluster did not (re)launch $n executors")
    }

  /** The multi-process session confs, shared with
    * [[streaming.StreamKillCheck]]: `SPARK_GRAFT_MASTER` (else
    * `defaultMaster`), the executors' classpath and the retry knobs.
    */
  private[graft] def clusterConf(defaultMaster: String): Seq[(String, String)] =
    Seq(
      "spark.master" -> sys.env.getOrElse("SPARK_GRAFT_MASTER", defaultMaster),
      // the worker-launched executor JVMs need the library's classes;
      // same box, so the compiled classes dir ships as a classpath
      // entry (spark-submit users get this from --jars instead)
      "spark.executor.extraClassPath" ->
        sys.env.getOrElse("SPARK_GRAFT_EXEC_CLASSPATH",
          new java.io.File("target/scala-2.13/classes").getAbsolutePath),
      // kill-mode: a dead executor must come back (standalone
      // relaunch) and its lost shuffle output must re-map — defaults,
      // stated explicitly because the kill gate depends on them
      "spark.task.maxFailures" -> "4",
      "spark.stage.maxConsecutiveAttempts" -> "8")

  /** A daemon thread that waits `sec` seconds and then, unless `done`
    * is set by then, `kill -9`s one live executor JVM. Shared with
    * [[streaming.StreamKillCheck]]'s mid-stream kill.
    */
  private[graft] final class Killer(sec: Double, done: AtomicBoolean,
                                    name: String)
      extends Thread(s"graft-executor-killer-$name") {
    @volatile private var killedPid = 0
    setDaemon(true)
    override def run(): Unit = {
      Thread.sleep((sec * 1000).toLong)
      if (!done.get()) executorPids().headOption.foreach { pid =>
        new ProcessBuilder("kill", "-9", pid.toString).start().waitFor()
        killedPid = pid
      }
    }

    /** Call after setting `done`: the pid killed (0: none). After a
      * kill, first poll (bounded) until `counters` saw the executor
      * removal — the listener bus is async and under load the removal
      * can post seconds after the run returned, so a fixed sleep
      * under-counts and spuriously fails the kill-landed gate.
      */
    def awaitLanded(counters: RunCounters): Int = {
      join(2000)
      if (killedPid != 0)
        RunCounters.await(15000)(counters.executorsRemoved.get >= 1)
      killedPid
    }
  }

  private[graft] def killOneExecutorAfter(sec: Double, done: AtomicBoolean,
                                          name: String): Killer = {
    val k = new Killer(sec, done, name)
    k.start()
    k
  }

  /** The force-spill regime: starves the operators into their spill
    * paths, observably. These are the committed knobs of the recorded
    * sf1 run (SCALING.md §spill): `spark.memory.fraction` floored and
    * every force-spill threshold Spark exposes (UnsafeExternalSorter,
    * window, sort-merge-join, cartesian and session-window buffers) at
    * 65536 elements — 0.2/65536 at -Xmx4g spills GBs on the
    * sort/join-heavy family with results hash-identical; the tighter
    * variant tried (fraction 0.15, thresholds 16384,
    * objectHashAggregate fallback 512) crosses the cliff from spill to
    * OOM at 32 threads × 4 GiB — per-task execution memory drops below
    * one in-flight aggregation buffer, which no spill threshold can
    * save. That boundary is the measured answer to "how starved can
    * an executor be": spill absorbs pressure until ~25 MB/task of
    * pool, then sizing, not spilling, is the fix.
    */
  private val forceSpill: Seq[(String, String)] = Seq(
    "spark.memory.fraction" -> "0.2",
    "spark.shuffle.spill.numElementsForceSpillThreshold" -> "65536",
    "spark.sql.windowExec.buffer.spill.threshold" -> "65536",
    "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "65536",
    "spark.sql.cartesianProductExec.buffer.spill.threshold" -> "65536",
    "spark.sql.sessionWindow.buffer.spill.threshold" -> "65536")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outPath, namesCsv) = args
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val killDelaySec = sys.env.get("SPARK_GRAFT_KILL").map(_.toDouble)
    val ckptDir = sys.env.get("SPARK_GRAFT_CKPT_DIR")
    val spill = sys.env.getOrElse("SPARK_GRAFT_SPILL", "off")

    val spark = LocalSession(clusterConf("local-cluster[2,8,8192]") ++
      ckptDir.map(Barrier.CheckpointDirKey -> _) ++
      (if (spill == "force") forceSpill else Nil): _*)
    val master = spark.sparkContext.master
    val counters = RunCounters.attach(spark.sparkContext)

    awaitExecutors(spark.sparkContext) // before timing anything

    val qs = SparkEntry.queries
    val out = names.map { name =>
      spark.catalog.clearCache()
      counters.settle()
      counters.reset()
      val done = new AtomicBoolean(false)
      val killer = killDelaySec.map(killOneExecutorAfter(_, done, name))
      val t0 = System.nanoTime()
      // map-typed output columns participate in the content hash via
      // ContentHash.canonical (entry-sorted) — NOT the legacy
      // allowHashOnMapType flag, whose hash depends on entry order
      // that Spark does not canonicalize (ADVICE r9).
      val res =
        try {
          val df = qs(name)(spark, sfDir)
          val (nRows, hash) = ContentHash.rowsAndHash(df)
          val wall = (System.nanoTime() - t0) / 1e9
          Map("rows" -> nRows.toString, "hash" -> hash,
            "wall_sec" -> graft.JsonOut.jnum(wall, 3), "err" -> "")
        } catch {
          case e: Throwable =>
            Map("rows" -> "-1", "hash" -> "null", "wall_sec" -> "-1",
              "err" -> e.toString.take(300))
        } finally Barrier.release(spark) // spark.stop() keeps checkpoint files
      done.set(true)
      val killedPid = killer.map(_.awaitLanded(counters)).getOrElse(0)
      counters.settle()
      name -> (res ++ Map(
        "killed_pid" -> killedPid.toString,
        "executors_removed" -> counters.executorsRemoved.get.toString,
        "executors_added" -> counters.executorsAdded.get.toString,
        "tasks_failed" -> counters.failedTasks.get.toString,
        "mem_spilled" -> counters.memSpilled.get.toString,
        "disk_spilled" -> counters.diskSpilled.get.toString))
    }

    import graft.JsonOut.jstr
    val json = out.map { case (n, m) =>
      jstr(n) + ":{" + m.toSeq.sortBy(_._1).map { case (k, v) =>
        jstr(k) + ":" + jstr(v)
      }.mkString(",") + "}"
    }.mkString("{\"master\":" + jstr(master) +
      ",\"barrier\":" + jstr(if (ckptDir.isDefined) "RELIABLE_CHECKPOINT" else "") +
      ",\"kill_delay_sec\":" + jstr(killDelaySec.map(_.toString)
        .getOrElse("off")) +
      ",\"spill\":" + jstr(spill) +
      ",\"sf\":" + jstr(sfDir) + ",\"queries\":{", ",", "}}")
    JsonOut.writeArtifact(outPath, json)
    // the per-application dir setCheckpointDir made: release deleted
    // the rdd-* dirs under it, not the dir itself
    spark.sparkContext.getCheckpointDir.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p) && fs.listStatus(p).isEmpty) fs.delete(p, false)
    }
    spark.stop()
  }
}
