package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Materialization barrier for multi-consumed corpus-scale
  * intermediates (tokenized arrays, exploded gram rows, near-dup edge
  * lists). Two jobs in one:
  *
  *  1. '''Plan barrier''': a lambda body referencing an un-materialized
  *     projected column gets the column's DEFINING EXPRESSION inlined
  *     by CollapseProject — `slice(split(text), i, n)` inside a
  *     `transform` re-runs split() per gram position. Persisting the
  *     projection (or checkpointing it) cuts the plan there.
  *  2. '''Reuse''': the frame has ≥2 consumers (size + explode, df
  *     aggregate + join probe); without a barrier each consumer
  *     recomputes the whole upstream plan.
  *
  * Two modes, chosen by the deployment, not by a strategy option:
  *  - `spark.graft.checkpointDir` UNSET (the default): [[apply]] is a
  *    lazy `persist(MEMORY_AND_DISK)`, [[cut]] a lazy
  *    `localCheckpoint(eager = false)`, [[freeze]] an eager
  *    localCheckpoint. Blocks live on the executors.
  *  - `spark.graft.checkpointDir` SET (a fault-tolerant path every
  *    executor can reach: HDFS/S3 on a cluster): [[apply]] and [[cut]]
  *    write an eager `df.checkpoint()` there. localCheckpoint blocks
  *    live on executor local disks — one lost executor invalidates
  *    them and the lineage was CUT, so a multi-hour 100 TB iterative
  *    job (HITS, PageRank, label propagation) restarts from zero; a
  *    reliable checkpoint survives executor loss at the cost of one
  *    distributed write + read per barrier. [[release]] deletes the
  *    files (the ContextCleaner reclaims them only when
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true`;
  *    SPARK-8582 documents the eager-checkpoint semantics). [[freeze]]
  *    stays a localCheckpoint: its frames are per-query scratch.
  *
  * Persisted barriers are REGISTERED per session; a driver that runs
  * many queries in one session ([[Verify]], [[Bench]]) calls
  * [[release]] between queries so corpus-sized cache entries don't
  * accumulate and lean on LRU eviction under memory pressure. Within
  * one query the barrier must NOT be unpersisted before the returned
  * lazy frame is consumed — hence release-at-the-driver, not inside
  * the query functions.
  */
object Barrier {

  /** Deployment path of the fault-tolerant checkpoint store; setting it
    * selects the checkpoint-dir mode described above.
    */
  val CheckpointDirKey = "spark.graft.checkpointDir"

  /** Reliable checkpoints a [[CutChain]] keeps live (current round +
    * one back). Iterative algorithms cut every round; each round
    * leaves an `rdd-N` directory in the fault-tolerant store that the
    * ContextCleaner only reclaims when
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` AND the
    * RDD is GC'd — a multi-hour 100 TB run would grow the checkpoint
    * dir O(rounds). Two reclaim paths bound it: [[release]] deletes
    * EVERY checkpoint this object wrote for the session (between
    * queries), and single-frame iterations opt into [[chain]] for
    * eager per-round rotation (once round N materializes, round
    * N−CutCheckpointsKept's files go — a chain whose consumer reads
    * deeper than one round back must not use rotation).
    */
  val CutCheckpointsKept = 2

  // What release() does for a session: unpersist a barrier frame or a
  // registered RDD, delete a checkpoint dir. WEAK keys: a session that
  // was released (empty queue, no DataFrame value referencing it) must
  // be collectable — a strong-keyed map would pin every
  // per-job/per-batch SparkSession for the JVM lifetime in
  // multi-session drivers. An action gets the session as its argument
  // so that it captures no session itself; one that holds a frame
  // keeps the entry live through the frame, which is exactly right.
  // The synchronizedMap wrapper makes computeIfAbsent/get atomic
  // (Java's SynchronizedMap overrides the default methods).
  private val pending: java.util.Map[SparkSession, java.util.Queue[SparkSession => Unit]] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.util.Queue[SparkSession => Unit]]())

  private def onRelease(spark: SparkSession)(action: SparkSession => Unit): Unit = {
    pending.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[SparkSession => Unit]())
      .add(action)
    ()
  }

  /** Register a persisted raw RDD for unpersist at the next
    * [[release]] — for iterative cores that drop below the DataFrame
    * layer (e.g. [[graph.GraphQueries.messageRounds]]'s co-partitioned
    * edge RDD) but must still honor the deterministic
    * release-between-queries contract; without it the RDD lingers until
    * nondeterministic ContextCleaner GC in multi-query drivers.
    */
  def registerRdd(spark: SparkSession, rdd: RDD[_]): Unit =
    onRelease(spark)(_ => rdd.unpersist(blocking = false))

  /** Register every persisted RDD reachable in `df`'s physical DAG —
    * the (lazily) local-checkpointed block holder — for unpersist at
    * the next [[release]]. localCheckpoint persists its internal RDD
    * DIRECTLY (never through the CacheManager), so `df.unpersist()`
    * cannot reach it and the blocks otherwise linger until the
    * ContextCleaner notices the RDD is GC'd — in a 283-query bench
    * session that let every query's cut frames pile up in the block
    * manager (measured r13: q182 same-session reps degraded 24 → 27 s
    * while fresh-JVM runs took 10.3 s; the iterative family's
    * in-session inflation). Descent stops at the first persisted node:
    * anything beneath it belongs to an earlier cut that registered
    * itself. After release the cut frame is UNUSABLE (lineage was
    * truncated) — the established between-queries contract.
    */
  private def registerPersistedLeaves(df: DataFrame): Unit = {
    val spark = df.sparkSession
    def walk(r: RDD[_]): Unit =
      if (r.getStorageLevel != StorageLevel.NONE) registerRdd(spark, r)
      else r.dependencies.foreach(d => walk(d.rdd))
    walk(df.queryExecution.toRdd)
  }

  /** The `rdd-N` checkpoint directory backing an (eagerly)
    * checkpointed frame — found by walking the physical RDD DAG for
    * the node with a checkpoint file. Public RDD API only.
    */
  private def checkpointPathOf(df: DataFrame): Option[String] = {
    def walk(r: RDD[_]): Option[String] =
      r.getCheckpointFile.orElse(r.dependencies.iterator
        .map(d => walk(d.rdd)).collectFirst { case Some(p) => p })
    walk(df.queryExecution.toRdd)
  }

  /** Best-effort recursive delete through the Hadoop FileSystem of the
    * path (works for hdfs://, s3a://, file:// alike); a failed delete
    * must never fail the job that has already moved past the round.
    */
  private def deleteCheckpoint(spark: SparkSession, p: String): Unit =
    try {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(path, true)
      ()
    } catch { case _: java.io.IOException => () }

  private def checkpointDir(spark: SparkSession): Option[String] =
    spark.conf.getOption(CheckpointDirKey)

  /** Barrier `df` in the session's mode. */
  def apply(df: DataFrame): DataFrame =
    checkpointDir(df.sparkSession) match {
      case Some(dir) => reliableCheckpoint(df, dir)
      case None =>
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        onRelease(df.sparkSession)(_ => p.unpersist(blocking = false))
        // LAZY, and that is a MEASURED choice, not an
        // omission: a lazily-persisted barrier with several
        // broadcast-subquery consumers does get recomputed
        // concurrently (Spark submits all broadcast-exchange jobs up
        // front; q154 profiled 9 such jobs summing 17.5 s inside a
        // 5.2 s wall — the racers overlap on idle threads), but a
        // 5-pair interleaved same-box A/B on the barrier-heaviest
        // tail (q98/q100/q152/q154, sf0.1) priced an eager count()
        // at 1.07× SLOWER overall (worse on 3 of 4; only q154 at
        // 0.92×): serializing the materialization before the first
        // consumer costs more than the overlapped duplicate work it
        // avoids at local thread counts. Corpora where the duplicated
        // subtree is pricier than a scheduling round-trip (e.g. wide
        // scans on a real cluster) would need their own A/B first.
        p
    }

  /** Lineage CUT for iterative algorithms (HITS, PageRank, label
    * propagation, BPE training): the per-round result MUST be
    * materialized with its logical plan truncated — a `cache()` leaves
    * the full round-deep tree for Catalyst/AQE to re-analyze per
    * action and planning cost compounds quadratically across rounds
    * (q182 measured 103 s uncut / 21 s cached / 2.9 s checkpointed at
    * sf0.1). So `cut` ALWAYS checkpoints; the mode only decides WHERE
    * the frozen blocks live: with `spark.graft.checkpointDir` set →
    * fault-tolerant `df.checkpoint()` (a multi-hour run survives
    * executor loss), unset → LAZY `localCheckpoint(eager = false)`:
    * the logical plan is cut immediately (a LogicalRDD that also
    * carries the physical partitioning/ordering), but block
    * materialization rides the first consuming action instead of a
    * dedicated count-style job per round. Measured round 9 on the
    * iterative family at sf0.1 (min-of-5): q182 6.2→5.1 s, q230
    * 4.1→3.4 s, q207 4.9→4.2 s from the eagerness change alone — the
    * per-round materialization job was pure scheduling overhead, every
    * block gets written anyway by the next round's action. The full
    * matrix for the record: cache-without-cut measured q182 at 25.2 s
    * (Catalyst/AQE re-analysis of round-deep plans — the original
    * disease), eager localCheckpoint 6.2 s, lazy 5.1 s.
    *
    * LAZY means callers that mutate the cut frame's SOURCE after
    * cutting (index generation swaps, in-place overwrites) must
    * freeze explicitly with `df.localCheckpoint()` — see
    * [[etl.MediaBandIndex.ingest]]; the etl index/erasure layer
    * already uses raw eager localCheckpoint everywhere for exactly
    * this reason.
    */
  def cut(df: DataFrame): DataFrame =
    checkpointDir(df.sparkSession) match {
      // NO cut-time rotation here: a query may hold several
      // interleaved cut sequences whose older rounds are still
      // consumed later (BFS unions every round's frontier; label
      // propagation pins node/edge cuts across rounds) — deleting
      // "the previous cut" globally is wrong. Files queue for
      // deletion at release(); a single-frame iteration that wants
      // bounded in-flight growth opts into [[chain]].
      case Some(dir) => reliableCheckpoint(df, dir)
      case None =>
        // lazy cut + deterministic release (r13): register the
        // checkpoint-marked internal RDD so multi-query drivers drop
        // its blocks between queries instead of waiting on GC
        val out = df.localCheckpoint(eager = false)
        registerPersistedLeaves(out)
        out
    }

  /** EAGER localCheckpoint + deterministic release — for per-query
    * scratch frames that must freeze a partition layout or cut a
    * multi-consumer plan NOW (DistributedRank's two-pass prefix sums,
    * Upsert's three-branch join). Same block semantics as raw
    * `df.localCheckpoint()`, but the internal RDD is registered so
    * multi-query drivers ([[Verify]], [[Bench]]) drop the blocks at
    * the next [[release]] instead of waiting on ContextCleaner GC —
    * the r13 in-session fix, extended beyond [[cut]]. NOT for frames
    * that outlive the query (persisted index/erasure maintenance
    * keeps raw localCheckpoint: those jobs run without release and a
    * registry entry would PIN their RDDs for the session).
    */
  def freeze(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint()
    registerPersistedLeaves(out)
    out
  }

  /** Per-round checkpoint rotation for ONE iterative frame sequence
    * (the GraphX PeriodicCheckpointer pattern): with
    * `spark.graft.checkpointDir` set, `chain().cut(round)` each round
    * keeps the newest [[CutCheckpointsKept]] rounds' files and deletes
    * older ones EAGERLY, so a thousand-round 100 TB job holds O(1)
    * checkpoint storage instead of O(rounds)-until-release. Safe ONLY
    * when the iteration reads at most `CutCheckpointsKept − 1` rounds
    * back within this chain (every converted algorithm here reads one
    * back) and nothing else references older rounds of THIS frame; an
    * algorithm that accumulates rounds (BFS's visited union) must use
    * plain [[cut]]. Unset, `chain().cut` ≡ [[cut]]. Rotated paths are
    * also release()-registered — the double delete is an idempotent
    * no-op.
    */
  final class CutChain private[Barrier] () {
    private val live = new java.util.ArrayDeque[String]
    def cut(df: DataFrame): DataFrame = {
      val spark = df.sparkSession
      val out = Barrier.cut(df)
      if (checkpointDir(spark).isDefined) {
        checkpointPathOf(out).foreach { p =>
          live.synchronized {
            live.addLast(p)
            while (live.size > CutCheckpointsKept)
              deleteCheckpoint(spark, live.pollFirst())
          }
        }
      }
      out
    }
  }

  def chain(): CutChain = new CutChain

  /** Eager fault-tolerant checkpoint, its `rdd-N` dir queued for
    * deletion at [[release]]; wires the SparkContext checkpoint dir to
    * `dir` on first use (a dir the SparkContext already has wins).
    */
  private def reliableCheckpoint(df: DataFrame, dir: String): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
    val cp = df.checkpoint()
    checkpointPathOf(cp).foreach(p => onRelease(df.sparkSession)(deleteCheckpoint(_, p)))
    cp
  }

  /** Run every release action registered in `spark` since the last
    * release: unpersist its barriers and delete its checkpoint files.
    * For multi-query drivers, between queries (after the previous
    * query's frames are fully consumed: none is re-consumed, so every
    * checkpoint this object wrote for the session can go).
    */
  def release(spark: SparkSession): Unit = {
    // drain in place, never pending.remove: a concurrent apply() that
    // already fetched this queue must not end up adding to an orphaned
    // one no future release can reach (its barrier would stay pinned
    // for the session's lifetime). An entry racing past the drain just
    // waits for the next release. The empty queue object per session
    // is a bounded, trivial residue.
    val q = pending.get(spark)
    if (q != null) {
      var action = q.poll()
      while (action != null) { action(spark); action = q.poll() }
    }
  }
}
