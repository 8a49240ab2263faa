package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorAdded, SparkListenerExecutorRemoved, SparkListenerTaskEnd}

/** Multi-executor correctness harness (VERDICT r9 item 1): every
  * number so far ran single-JVM `local[32]`, where shuffles are
  * in-process memory moves and an "executor" cannot die. This main
  * runs a query list on a REAL multi-process master
  * (`local-cluster[N,cores,memMB]` — in-process standalone master +
  * workers, separate executor JVMs, netty shuffle over the loopback
  * network) and records the same order-independent [[ContentHash]]
  * as [[SpillCheck]], so the two execution axes are diffable:
  *
  *  - base: `SPARK_GRAFT_MASTER=local[32]` (the Bench shape) — fresh
  *    hashes on the current data.
  *  - cluster: `SPARK_GRAFT_MASTER=local-cluster[2,8,8192]` — same
  *    queries, cross-process shuffle, remote block fetch.
  *  - kill: `SPARK_GRAFT_KILL=<sec>` — a daemon thread waits that
  *    many seconds into EACH query, then `kill -9`s one live
  *    CoarseGrainedExecutorBackend JVM. The standalone master
  *    relaunches an executor; lost tasks retry and lost shuffle
  *    blocks re-fetch (FetchFailed → stage retry). The listener
  *    records `executors_removed`/`tasks_failed` per query so the
  *    artifact PROVES the kill landed mid-query (a kill that fired
  *    after completion shows 0 and proves nothing — lower the delay).
  *  - reliable: `SPARK_GRAFT_BARRIER=RELIABLE_CHECKPOINT` — the
  *    iterative family's cuts go through fault-tolerant
  *    `df.checkpoint()` ([[Barrier]]'s documented executor-loss
  *    promise) instead of lazy localCheckpoint, and must survive the
  *    same kill with identical hashes. (Lazy localCheckpoint blocks
  *    live on the killed executor and their lineage is CUT — an
  *    executor loss there is unrecoverable by design; reliable
  *    checkpoints are the documented fix, this mode measures it.)
  *
  * Usage: runMain graft.ClusterCheck <sfDir> <out.json> <q1,q2,…>
  * Env: SPARK_GRAFT_MASTER (default local-cluster[2,8,8192]),
  *      SPARK_GRAFT_CPUS (shuffle partitions, default: all cores),
  *      SPARK_GRAFT_KILL (seconds into each query to kill; off if
  *      unset), SPARK_GRAFT_BARRIER (cut strategy override),
  *      SPARK_GRAFT_CKPT_DIR (checkpoint dir for RELIABLE mode).
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

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outPath, namesCsv) = args
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val killDelaySec = sys.env.get("SPARK_GRAFT_KILL").map(_.toDouble)
    val barrier = sys.env.getOrElse("SPARK_GRAFT_BARRIER", "")

    val barrierConf =
      if (barrier.isEmpty) Nil
      else (Barrier.ConfKey -> barrier) +: (
        if (barrier.equalsIgnoreCase("RELIABLE_CHECKPOINT"))
          Seq(Barrier.CheckpointDirKey ->
            sys.env.getOrElse("SPARK_GRAFT_CKPT_DIR",
              java.nio.file.Files.createTempDirectory("graft-ckpt")
                .toString))
        else Nil)
    val spark =
      LocalSession(clusterConf("local-cluster[2,8,8192]") ++ barrierConf: _*)
    val master = spark.sparkContext.master

    val removed = new java.util.concurrent.atomic.AtomicInteger(0)
    val added = new java.util.concurrent.atomic.AtomicInteger(0)
    val failedTasks = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit = {
        removed.incrementAndGet(); ()
      }
      override def onExecutorAdded(e: SparkListenerExecutorAdded): Unit = {
        added.incrementAndGet(); ()
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.reason != org.apache.spark.Success) {
          failedTasks.incrementAndGet(); ()
        }
    })

    // wait for the cluster's executors before timing anything
    if (master.startsWith("local-cluster")) {
      val deadline = System.currentTimeMillis() + 120000
      while (executorPids().size < 2 &&
             System.currentTimeMillis() < deadline) Thread.sleep(500)
      require(executorPids().nonEmpty, "no executor JVMs came up")
    }

    val qs = SparkEntry.queries
    val out = names.map { name =>
      Barrier.release(spark)
      spark.catalog.clearCache()
      removed.set(0); added.set(0); failedTasks.set(0)
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val killedPid = new java.util.concurrent.atomic.AtomicInteger(0)
      val killer = killDelaySec.map { d =>
        val t = new Thread(() => {
          Thread.sleep((d * 1000).toLong)
          if (!done.get()) {
            executorPids().headOption.foreach { pid =>
              new ProcessBuilder("kill", "-9", pid.toString)
                .start().waitFor()
              killedPid.set(pid)
            }
          }
        }, s"graft-executor-killer-$name")
        t.setDaemon(true); t.start(); t
      }
      val t0 = System.nanoTime()
      val res =
        try {
          val df = qs(name)(spark, sfDir)
          val (nRows, hash) = ContentHash.rowsAndHash(df)
          val wall = (System.nanoTime() - t0) / 1e9
          done.set(true)
          Thread.sleep(500) // drain listener events
          Map("rows" -> nRows.toString, "hash" -> hash,
            "wall_sec" -> graft.JsonOut.jnum(wall, 3),
            "killed_pid" -> killedPid.get.toString,
            "executors_removed" -> removed.get.toString,
            "executors_added" -> added.get.toString,
            "tasks_failed" -> failedTasks.get.toString,
            "err" -> "")
        } catch {
          case e: Throwable =>
            done.set(true)
            Map("rows" -> "-1", "hash" -> "null", "wall_sec" -> "-1",
              "killed_pid" -> killedPid.get.toString,
              "executors_removed" -> removed.get.toString,
              "executors_added" -> added.get.toString,
              "tasks_failed" -> failedTasks.get.toString,
              "err" -> e.toString.take(300))
        }
      killer.foreach(_.join(2000))
      name -> res
    }

    import graft.JsonOut.jstr
    val json = out.map { case (n, m) =>
      jstr(n) + ":{" + m.toSeq.sortBy(_._1).map { case (k, v) =>
        jstr(k) + ":" + jstr(v)
      }.mkString(",") + "}"
    }.mkString("{\"master\":" + jstr(master) +
      ",\"barrier\":" + jstr(barrier) +
      ",\"kill_delay_sec\":" + jstr(killDelaySec.map(_.toString)
        .getOrElse("off")) +
      ",\"sf\":" + jstr(sfDir) + ",\"queries\":{", ",", "}}")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
