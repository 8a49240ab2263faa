package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Spill-correctness harness (VERDICT r9 item 1): every 100 TB claim
  * about the heavy family assumed executors spill rather than OOM or
  * corrupt when working sets exceed memory — the one structural claim
  * SCALING.md could not show, because at sf≤1 with a 128 GiB heap
  * nothing ever spills. This main runs a query list twice-comparable:
  *
  *  - mode `off` (default): the Bench session shape, no constraints —
  *    writes per-query row counts and an ORDER-INDEPENDENT content
  *    hash (sum of xxhash64 over the row struct — commutative, so
  *    partitioning/ordering differences don't matter).
  *  - mode `force` (env SPARK_GRAFT_SPILL=force): same queries under
  *    a memory regime that makes the spill paths actually execute —
  *    `spark.memory.fraction` floored and every force-spill-threshold
  *    knob Spark exposes (UnsafeExternalSorter via
  *    `spark.shuffle.spill.numElementsForceSpillThreshold`, window
  *    and sort-merge-join buffers, aggregate fallback) set low enough
  *    that operators spill on sf1 partition sizes (~190k rows). Spill
  *    is VERIFIED, not assumed: a task-metrics listener accumulates
  *    memory/disk bytes spilled per query and the JSON records them —
  *    a run that spilled zero bytes proves nothing and says so.
  *
  * Run both modes (ideally the `force` mode in a small-heap JVM, e.g.
  * -Xmx4g) and diff the hashes: identical hashes + nonzero spilled
  * bytes = the operator's results are invariant under spill pressure.
  * Results land in SCALING.md §spill.
  *
  * Usage: runMain graft.SpillCheck <sfDir> <out.json> <q1,q2,…>
  * Env: SPARK_GRAFT_CPUS (local cores, default: all cores).
  */
object SpillCheck {

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outPath, namesCsv) = args
    val names = namesCsv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val mode = sys.env.getOrElse("SPARK_GRAFT_SPILL", "off")
    // map-typed output columns participate in the content hash via
    // ContentHash.canonical (entry-sorted) — NOT the legacy
    // allowHashOnMapType flag, whose hash depends on entry order
    // that Spark does not canonicalize (ADVICE r9).
    //
    // force mode starves the operators into their spill paths,
    // observably. These are the committed knobs of the recorded sf1 run
    // (SCALING.md §spill): 0.2/65536 at -Xmx4g spills GBs on the
    // sort/join-heavy family with results hash-identical; the
    // tighter variant tried (fraction 0.15, thresholds 16384,
    // objectHashAggregate fallback 512) crosses the cliff from
    // spill to OOM at 32 threads × 4 GiB — per-task execution
    // memory drops below one in-flight aggregation buffer, which
    // no spill threshold can save. That boundary is the measured
    // answer to "how starved can an executor be": spill absorbs
    // pressure until ~25 MB/task of pool, then sizing, not
    // spilling, is the fix.
    val forceSpill = Seq(
      "spark.memory.fraction" -> "0.2",
      "spark.shuffle.spill.numElementsForceSpillThreshold" -> "65536",
      "spark.sql.windowExec.buffer.spill.threshold" -> "65536",
      "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "65536",
      "spark.sql.cartesianProductExec.buffer.spill.threshold" -> "65536",
      "spark.sql.sessionWindow.buffer.spill.threshold" -> "65536")
    val spark = LocalSession((if (mode == "force") forceSpill else Nil): _*)

    val memSpilled = new java.util.concurrent.atomic.AtomicLong(0)
    val diskSpilled = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        Option(te.taskMetrics).foreach { m =>
          memSpilled.addAndGet(m.memoryBytesSpilled)
          diskSpilled.addAndGet(m.diskBytesSpilled)
          ()
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val qs = SparkEntry.queries
    val out = names.map { name =>
      Barrier.release(spark)
      spark.catalog.clearCache()
      Thread.sleep(300); memSpilled.set(0); diskSpilled.set(0)
      val t0 = System.nanoTime()
      val res =
        try {
          val df = qs(name)(spark, sfDir)
          // Commutative, map-canonical content hash — see ContentHash.
          val (nRows, hash) = ContentHash.rowsAndHash(df)
          val wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(500) // drain task-end events before reading
          Map("rows" -> nRows.toString,
            "hash" -> hash,
            "wall_sec" -> graft.JsonOut.jnum(wall, 3),
            "mem_spilled" -> memSpilled.get.toString,
            "disk_spilled" -> diskSpilled.get.toString,
            "err" -> "")
        } catch {
          case e: Throwable =>
            Map("rows" -> "-1", "hash" -> "null", "wall_sec" -> "-1",
              "mem_spilled" -> memSpilled.get.toString,
              "disk_spilled" -> diskSpilled.get.toString,
              "err" -> e.toString.take(200))
        }
      name -> res
    }
    import graft.JsonOut.jstr
    val json = out.map { case (n, m) =>
      jstr(n) + ":{" + m.toSeq.sortBy(_._1).map { case (k, v) =>
        jstr(k) + ":" + (if (k == "err") jstr(v) else jstr(v))
      }.mkString(",") + "}"
    }.mkString("{\"mode\":" + jstr(mode) + ",\"sf\":" + jstr(sfDir) +
      ",\"queries\":{", ",", "}}")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
