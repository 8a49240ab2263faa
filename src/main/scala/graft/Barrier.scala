package graft

import org.apache.spark.sql.DataFrame
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
  * The STRATEGY is a session conf, because the right answer is
  * corpus-dependent at 100 TB: `spark.graft.barrierStorage` =
  *  - a [[StorageLevel]] name (`MEMORY_AND_DISK` default, `DISK_ONLY`,
  *    `MEMORY_ONLY`, …) → `persist(level)`; spills per level;
  *  - `LOCAL_CHECKPOINT` → eager localCheckpoint: blocks are freed by
  *    the ContextCleaner when the frame is collected (no
  *    session-lifetime CacheManager entry), at the availability cost
  *    documented in [[operators.DistributedRank.withPrefixSum]];
  *  - `RELIABLE_CHECKPOINT` → eager `df.checkpoint()` to the
  *    fault-tolerant directory named by `spark.graft.checkpointDir`
  *    (HDFS/S3 on a cluster). localCheckpoint blocks live on executor
  *    local disks — one lost executor invalidates them and the lineage
  *    was CUT, so a multi-hour 100 TB iterative job (HITS, PageRank,
  *    label propagation) restarts from zero; a reliable checkpoint
  *    survives executor loss at the cost of one distributed write +
  *    read per barrier. Checkpoint files are reclaimed by the
  *    ContextCleaner only when
  *    `spark.cleaner.referenceTracking.cleanCheckpoints=true`;
  *    otherwise clean the directory per job (document of record:
  *    SPARK-8582's eager-checkpoint semantics);
  *  - `NONE` → no barrier: identical results, upstream recomputed per
  *    consumer (including the CollapseProject inlining cost) — the
  *    right trade when the intermediate is wider than the recompute.
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

  val ConfKey = "spark.graft.barrierStorage"
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

  // WEAK keys: a session that was released (empty queue, no DataFrame
  // value referencing it) must be collectable — a strong-keyed map
  // would pin every per-job/per-batch SparkSession for the JVM
  // lifetime in multi-session drivers. While a queue still holds
  // frames, those frames reference their session and keep the entry
  // live, which is exactly right. The synchronizedMap wrapper makes
  // computeIfAbsent/get atomic (Java's SynchronizedMap overrides the
  // default methods).
  private val registry: java.util.Map[
      org.apache.spark.sql.SparkSession, java.util.Queue[DataFrame]] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[
        org.apache.spark.sql.SparkSession, java.util.Queue[DataFrame]]())

  // Every reliable-checkpoint path (`…/rdd-N` dir) this object creates
  // — via apply(), cut(), or a CutChain — queues here for deletion at
  // release() (the between-queries point where the caller asserts no
  // frame is re-consumed). Same weak-key rationale as `registry`.
  private val ckptPaths: java.util.Map[
      org.apache.spark.sql.SparkSession, java.util.Queue[String]] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[
        org.apache.spark.sql.SparkSession, java.util.Queue[String]]())

  // Raw-RDD persists (the messageRounds edge RDD) follow the same
  // release-between-queries contract as DataFrame barriers; without
  // this track they linger until nondeterministic ContextCleaner GC
  // in multi-query drivers (ADVICE r11).
  private val rddRegistry: java.util.Map[
      org.apache.spark.sql.SparkSession, java.util.Queue[
        org.apache.spark.rdd.RDD[_]]] =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[
        org.apache.spark.sql.SparkSession, java.util.Queue[
          org.apache.spark.rdd.RDD[_]]]())

  /** Register a persisted raw RDD for unpersist at the next
    * [[release]] — for iterative cores that drop below the DataFrame
    * layer (e.g. [[graph.GraphQueries.messageRounds]]'s co-partitioned
    * edge RDD) but must still honor the deterministic
    * release-between-queries contract.
    */
  def registerRdd(spark: org.apache.spark.sql.SparkSession,
                  rdd: org.apache.spark.rdd.RDD[_]): Unit = {
    rddRegistry.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.rdd.RDD[_]]())
      .add(rdd)
    ()
  }

  private def registerCkpt(
      spark: org.apache.spark.sql.SparkSession, p: String): Unit = {
    ckptPaths.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentLinkedQueue[String]())
      .add(p)
    ()
  }

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
    def walk(r: org.apache.spark.rdd.RDD[_]): Unit =
      if (r.getStorageLevel != StorageLevel.NONE) registerRdd(spark, r)
      else r.dependencies.foreach(d => walk(d.rdd))
    walk(df.queryExecution.toRdd)
  }

  /** The `rdd-N` checkpoint directory backing an (eagerly)
    * checkpointed frame — found by walking the physical RDD DAG for
    * the node with a checkpoint file. Public RDD API only.
    */
  private def checkpointPathOf(df: DataFrame): Option[String] = {
    def walk(r: org.apache.spark.rdd.RDD[_]): Option[String] =
      r.getCheckpointFile.orElse(r.dependencies.iterator
        .map(d => walk(d.rdd)).collectFirst { case Some(p) => p })
    walk(df.queryExecution.toRdd)
  }

  /** Best-effort recursive delete through the Hadoop FileSystem of the
    * path (works for hdfs://, s3a://, file:// alike); a failed delete
    * must never fail the job that has already moved past the round.
    */
  private def deleteCheckpoint(
      spark: org.apache.spark.sql.SparkSession, p: String): Unit =
    try {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(path, true)
      ()
    } catch { case _: java.io.IOException => () }

  /** Barrier `df` per the session's configured strategy. */
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get(ConfKey, "MEMORY_AND_DISK").trim.toUpperCase match {
      case "NONE" => df
      case "LOCAL_CHECKPOINT" =>
        val out = df.localCheckpoint()
        registerPersistedLeaves(out)
        out
      case "RELIABLE_CHECKPOINT" =>
        val cp = reliableCheckpoint(df)
        checkpointPathOf(cp).foreach(registerCkpt(spark, _))
        cp
      case level =>
        val p = df.persist(StorageLevel.fromString(level))
        registry.computeIfAbsent(spark,
          _ => new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]())
          .add(p)
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
  }

  /** Lineage CUT for iterative algorithms (HITS, PageRank, label
    * propagation, BPE training): the per-round result MUST be
    * materialized with its logical plan truncated — a `cache()` leaves
    * the full round-deep tree for Catalyst/AQE to re-analyze per
    * action and planning cost compounds quadratically across rounds
    * (q182 measured 103 s uncut / 21 s cached / 2.9 s checkpointed at
    * sf0.1), and `NONE` would recompute every previous round per
    * consumer. So unlike [[apply]], `cut` ALWAYS checkpoints; the only
    * strategy question is WHERE the frozen blocks live:
    * `RELIABLE_CHECKPOINT` → fault-tolerant `df.checkpoint()` (a
    * multi-hour run survives executor loss), anything else → LAZY
    * `localCheckpoint(eager = false)`: the logical plan is cut
    * immediately (a LogicalRDD that also carries the physical
    * partitioning/ordering), but block materialization rides the
    * first consuming action instead of a dedicated count-style job
    * per round. Measured round 9 on the iterative family at sf0.1
    * (min-of-5): q182 6.2→5.1 s, q230 4.1→3.4 s, q207 4.9→4.2 s from
    * the eagerness change alone — the per-round materialization job
    * was pure scheduling overhead, every block gets written anyway by
    * the next round's action. The full strategy matrix for the
    * record: cache-without-cut measured q182 at 25.2 s (Catalyst/AQE
    * re-analysis of round-deep plans — the original disease), eager
    * localCheckpoint 6.2 s, lazy 5.1 s.
    *
    * LAZY means callers that mutate the cut frame's SOURCE after
    * cutting (index generation swaps, in-place overwrites) must
    * freeze explicitly with `df.localCheckpoint()` — see
    * [[etl.MediaBandIndex.ingest]]; the etl index/erasure layer
    * already uses raw eager localCheckpoint everywhere for exactly
    * this reason.
    */
  def cut(df: DataFrame): DataFrame =
    df.sparkSession.conf.get(ConfKey, "MEMORY_AND_DISK")
        .trim.toUpperCase match {
      case "RELIABLE_CHECKPOINT" =>
        val cp = reliableCheckpoint(df)
        // NO cut-time rotation here: a query may hold several
        // interleaved cut sequences whose older rounds are still
        // consumed later (BFS unions every round's frontier; label
        // propagation pins node/edge cuts across rounds) — deleting
        // "the previous cut" globally is wrong. Files queue for
        // deletion at release(); a single-frame iteration that wants
        // bounded in-flight growth opts into [[chain]].
        checkpointPathOf(cp).foreach(registerCkpt(df.sparkSession, _))
        cp
      case _ =>
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
    * (the GraphX PeriodicCheckpointer pattern): under
    * `RELIABLE_CHECKPOINT`, `chain().cut(round)` each round keeps the
    * newest [[CutCheckpointsKept]] rounds' files and deletes older
    * ones EAGERLY, so a thousand-round 100 TB job holds O(1)
    * checkpoint storage instead of O(rounds)-until-release. Safe ONLY
    * when the iteration reads at most `CutCheckpointsKept − 1` rounds
    * back within this chain (every converted algorithm here reads one
    * back) and nothing else references older rounds of THIS frame; an
    * algorithm that accumulates rounds (BFS's visited union) must use
    * plain [[cut]]. Under every other strategy `chain().cut` ≡
    * [[cut]]. Rotated paths are also release()-registered — the
    * double delete is an idempotent no-op.
    */
  final class CutChain private[Barrier] () {
    private val live = new java.util.ArrayDeque[String]
    def cut(df: DataFrame): DataFrame = {
      val spark = df.sparkSession
      val out = Barrier.cut(df)
      if (spark.conf.get(ConfKey, "MEMORY_AND_DISK")
            .trim.toUpperCase == "RELIABLE_CHECKPOINT") {
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

  /** Eager fault-tolerant checkpoint; wires the SparkContext
    * checkpoint dir from `spark.graft.checkpointDir` on first use.
    * Fails loudly when neither is set — silently falling back to
    * localCheckpoint would hand a cluster job the exact availability
    * hazard the caller opted out of.
    */
  private def reliableCheckpoint(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty) {
      val dir = df.sparkSession.conf.getOption(CheckpointDirKey).getOrElse(
        throw new IllegalStateException(
          s"$ConfKey=RELIABLE_CHECKPOINT requires $CheckpointDirKey " +
            "(a fault-tolerant path every executor can reach, e.g. " +
            "hdfs://…/checkpoints or s3://…/checkpoints)"))
      sc.setCheckpointDir(dir)
    }
    df.checkpoint()
  }

  /** Unpersist every barrier registered in `spark` since the last
    * release — for multi-query drivers, between queries (after the
    * previous query's frames are fully consumed).
    */
  def release(spark: org.apache.spark.sql.SparkSession): Unit = {
    // drain in place, never registry.remove: a concurrent apply() that
    // already fetched this queue must not end up adding to an orphaned
    // one no future release can reach (its barrier would stay pinned
    // for the session's lifetime). An entry racing past the drain just
    // waits for the next release. The empty queue object per session
    // is a bounded, trivial residue.
    val q = registry.get(spark)
    if (q != null) {
      var df = q.poll()
      while (df != null) { df.unpersist(blocking = false); df = q.poll() }
    }
    val rq = rddRegistry.get(spark)
    if (rq != null) {
      var r = rq.poll()
      while (r != null) { r.unpersist(blocking = false); r = rq.poll() }
    }
    // reliable-checkpoint files follow the same contract: between
    // queries no frame is re-consumed, so every checkpoint this object
    // wrote for the session (apply barriers, cuts, chain survivors)
    // can go.
    val cq = ckptPaths.get(spark)
    if (cq != null) {
      var p = cq.poll()
      while (p != null) { deleteCheckpoint(spark, p); p = cq.poll() }
    }
  }
}
