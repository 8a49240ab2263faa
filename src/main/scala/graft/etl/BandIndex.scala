package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

/** Persisted MinHash band index for incremental deduplication — the
  * storage half of the every-crawl pattern
  * [[graft.text.TextQueries.q88]] expresses inline (that query
  * recomputes the corpus side because its DuckDB oracle needs one
  * self-contained expression; a production pipeline must not).
  *
  * Lifecycle:
  *  - [[declare]]: the three tables, once — `<name>_bands` (doc_id, n,
  *    band_val) bucketed by `band_val` for the near layer's candidate
  *    join, `<name>_toks` (pfx, doc_id, th) PARTITIONED by `pfx` =
  *    hash-prefix(doc_id) for the verify lookup, `<name>_docs` (doc_id,
  *    n, fp) bucketed by `fp` for the exact layer. Every write is an
  *    insert into a declared table.
  *  - [[create]]: declare, then tokenize the corpus ONCE and append it.
  *  - [[classify]]: classify an incoming batch (exact / near / kept)
  *    reading ONLY the index — corpus text is never re-read, corpus
  *    tokens never recomputed — into one materialized frame that also
  *    carries the batch's signatures ([[dedupBatch]] is its flags).
  *  - [[appendSignatures]]: add the kept rows' signatures to all three
  *    tables — the index is appended to, never rebuilt, and the batch
  *    is never tokenized twice ([[append]] is the raw-docs form).
  *  - [[compact]] / [[compactIfNeeded]]: rewrite a table's accumulated
  *    per-append small files into one fresh layout-preserving
  *    generation (offline maintenance — the lease below keeps readers
  *    and appenders out while it runs).
  *
  * MAINTENANCE LEASE: compact/remove (and [[graft.etl.Erasure.erase]])
  * hold `<path>/_maintenance_lease` for their duration; appends and
  * [[classify]] throw [[ConcurrentMaintenanceException]] while it is
  * on file, so an append can never write into a generation directory a
  * concurrent swap is about to sweep. A crashed holder's lease goes
  * stale after its TTL and the next maintenance run takes it over
  * (appenders stay blocked until then — rerunning the interrupted op
  * is the recovery, [[breakLease]] the operator override).
  *  - [[remove]]: erase documents (takedown / right-to-be-forgotten) —
  *    rewrite every table without the given ids, so the erased text's
  *    derived data (token hashes, fingerprint, band keys) is gone and
  *    a re-crawl of it classifies as kept again.
  *
  * Per-batch COST, precisely: one tokenization of the batch feeds the
  * classification, the kept-slice sink and the append (the kept rows
  * are appended with their signature columns, never re-tokenized).
  * Every Exchange is batch-sized — the exact fingerprint join (on fp)
  * and the band join (on band_val) find the corpus side
  * pre-partitioned on disk, so only batch-side rows ever shuffle. Scan
  * I/O is batch-bounded on the bands/docs side only up to columnar
  * projection (the fp and band_val columns of the whole corpus are
  * read per batch — skinny fixed-width columns). The verify lookup is
  * where a naive layout bleeds: fetching token-hash ARRAYS for the
  * colliding old docs would scan the corpus-sized wide column every
  * batch. Hence `_toks`: the wide `th` column lives in its own table,
  * directory-partitioned by `pfx = pmod(xxhash64(doc_id), PfxCount)`,
  * and [[classify]] computes the candidate pairs first, collects the
  * DISTINCT PREFIXES the colliding old docs fall in (≤ [[PfxCount]]
  * longs — bounded, unlike collecting ids), and reads `_toks` with a
  * literal `pfx IN (...)` filter → partition-pruned scan. A small
  * batch colliding into few prefixes reads a fraction of the corpus'
  * token arrays; [[PfxCount]] is the prune granularity (fixed per
  * index — changing it means rebuild). This driver round-trip is a
  * PRUNING literal, not a plan-choice probe (the q45 `hasHot` lesson
  * forbids probes that pick between plan branches; here the collected
  * values are load-bearing data in the only plan there is) — the cost
  * is one extra evaluation of the batch-sized band join: the collect
  * runs it once, and the one localCheckpoint that materializes the
  * classification runs it again (a batch with no candidate pairs skips
  * the verify altogether).
  *
  * Band ids are folded INTO the 64-bit band hash (`xxhash64(bandNo,
  * …)`) so one long is the entire join key; hash collisions only merge
  * buckets, adding spurious candidates that exact verification removes
  * (the q45 argument). Signature math (tokenize → k salted md5 min
  * hashes → b nested bands, threshold t per [[graft.text.LshParams]],
  * pinned on disk at create — see the params-file note in the object)
  * is bit-identical to q45/q88 at the defaults, so the classifications
  * agree with the verified queries.
  *
  * Tables are external (declared with a `LOCATION`), with
  * catalog-tracked bucketing; the layout on disk is plain bucketed
  * (resp. pfx-partitioned) parquet, and [[register]] re-declares it in
  * a fresh session.
  *
  * LAYOUT VERSIONING: an index created before the `_toks` split (token
  * arrays then lived inside `_docs`) cannot be read or appended by this
  * code — [[classify]] detects the missing `_toks` table and names
  * the remedy (rebuild via [[create]] from the corpus). The same
  * applies to a [[PfxCount]] change.
  */
object BandIndex {

  import graft.text.LshParams

  /** The index's LSH tunables are pinned ON DISK at [[create]] time
    * (`<path>/_lsh_params`): signatures already written are a function
    * of (numHashes, bands), so appends and classifies MUST use the
    * creation-time values — loading them from the index itself makes
    * drift impossible (a caller cannot pass mismatched params to
    * appends or [[classify]]; there is nothing to pass). Changing
    * params means rebuilding the index, same as a [[PfxCount]] change.
    * A params file absent (index predating it) reads as the historical
    * defaults — exactly what such an index was built with.
    */
  private val ParamsFileName = "_lsh_params"

  /** The LSH params the index at `path` was created with. */
  def loadParams(spark: SparkSession, path: String): LshParams = {
    val p = new org.apache.hadoop.fs.Path(path, ParamsFileName)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) return LshParams()
    val in = fs.open(p)
    try LshParams.decode(
      scala.io.Source.fromInputStream(in, "UTF-8").mkString)
    finally in.close()
  }

  private def writeParamsIfAbsent(spark: SparkSession, path: String,
                                  params: LshParams,
                                  tablesExist: Boolean): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, ParamsFileName)
    val fs = fsOf(spark, p)
    if (fs.exists(p)) {
      val existing = loadParams(spark, path)
      require(existing == params,
        s"band index at $path was created with ${existing.encode}; " +
        s"cannot re-create with ${params.encode} — rebuild from scratch")
      return
    }
    // tables but no params file: a pre-params-file index, necessarily
    // built with the historical defaults — pinning anything ELSE here
    // would stamp params the stored signatures don't match
    require(!tablesExist || params == LshParams(),
      s"band index at $path predates the params file (built with the " +
      s"defaults ${LshParams().encode}); rebuild to use ${params.encode}")
    fs.mkdirs(p.getParent)
    val out = fs.create(p, false)
    try out.write(params.encode.getBytes("UTF-8")) finally out.close()
  }

  /** Raised when an index operation runs into the offline-maintenance
    * lease — an append/classify while compact/remove/erase holds it, or
    * a second maintenance op racing a live one. The message names the
    * holder and the remedy; callers (a streaming ingest loop above all)
    * should treat it as "retry after maintenance", never swallow it.
    */
  final class ConcurrentMaintenanceException(msg: String)
    extends IllegalStateException(msg)

  /** The maintenance lease: op name, wall-clock acquisition time, TTL,
    * and a per-acquisition FENCING TOKEN. Stored as one line
    * (`op|acquiredAtMs|ttlMs|claimId`) in `<path>/_maintenance_lease`.
    * Wall-clock staleness is the standard lease compromise: a crashed
    * holder's lease expires instead of blocking forever, at the cost
    * that a PAUSED holder (GC, VM migration) longer than the TTL could
    * be taken over — size `ttlMs` to an upper bound of the maintenance
    * op's duration. The fencing token closes the takeover's write-side
    * hole: every generation-swap commit re-reads the lease and refuses
    * to proceed unless the on-file claimId is still the committer's own
    * ([[verifyFence]]), so a paused holder that lost its lease cannot
    * complete a stale swap over the new holder's work.
    */
  final case class Lease(op: String, acquiredAtMs: Long, ttlMs: Long,
                         claimId: String = "") {
    def staleAt(nowMs: Long): Boolean = nowMs >= acquiredAtMs + ttlMs
    /** Wire form; claimId-less for legacy 3-field leases so the
      * takeover's read-back content compare matches what's on file.
      */
    def encode: String =
      if (claimId.isEmpty) s"$op|$acquiredAtMs|$ttlMs"
      else s"$op|$acquiredAtMs|$ttlMs|$claimId"
  }

  /** Default lease TTL — one hour covers a full-index rewrite at any
    * scale this code has seen; raise per-call for petabyte compactions.
    */
  val DefaultLeaseTtlMs: Long = 60L * 60 * 1000

  private val LeaseFileName = "_maintenance_lease"

  private def hadoopPath(s: String) = new org.apache.hadoop.fs.Path(s)

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def leasePath(path: String) =
    new org.apache.hadoop.fs.Path(path, LeaseFileName)

  /** The lease currently on file, if any. A half-written/unparsable
    * lease file (crash inside acquire) reads as op=[[CorruptOp]]:
    * appenders fail fast on it, and — because its holder's age is
    * unknowable — maintenance never auto-takes it over; [[breakLease]]
    * after confirming nothing runs is the remedy.
    */
  def readLease(spark: SparkSession, path: String): Option[Lease] = {
    val p = leasePath(path)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) return None
    val in =
      try fs.open(p)
      catch { case _: java.io.FileNotFoundException =>
        return None // raced a release between exists and open
      }
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    text.split('|') match {
      case Array(op, at, ttl) if at.forall(_.isDigit) && ttl.forall(_.isDigit) =>
        Some(Lease(op, at.toLong, ttl.toLong)) // pre-fencing lease file
      case Array(op, at, ttl, id)
          if at.forall(_.isDigit) && ttl.forall(_.isDigit) && id.nonEmpty =>
        Some(Lease(op, at.toLong, ttl.toLong, id))
      case _ => Some(Lease(CorruptOp, 0L, 0L))
    }
  }

  /** Marker op for an unparsable lease file (crash inside acquire, or
    * a reader catching the moment between create and content write).
    * NEVER auto-taken-over — its age is unknowable, so the holder
    * might be live; [[breakLease]] is the remedy once the operator has
    * confirmed nothing runs.
    */
  private val CorruptOp = "corrupt"

  /** Operator override: drop the lease without running maintenance.
    * ONLY for a lease whose holder is known dead before its TTL — a
    * break while the holder still runs re-opens the silent-sweep race
    * the lease exists to close.
    */
  def breakLease(spark: SparkSession, path: String): Unit = {
    val p = leasePath(path)
    fsOf(spark, p).delete(p, false)
  }

  /** Take the maintenance lease or fail fast. A fresh lease means
    * another maintenance op is (probably) live → named error; a stale
    * one is a crashed holder → takeover. Takeover CLAIMS the stale file
    * by atomic rename first — of two racing takers exactly one rename
    * succeeds (the loser's source is gone), so a taker can never
    * delete a rival's freshly-written lease (the delete-then-create
    * race). A corrupt lease (unknown age — the holder might be live)
    * is never auto-taken-over. The create(overwrite=false) then makes
    * racing creators serialize on file creation (best-effort on stores
    * without atomic create). After the lease lands, the taker WAITS
    * for in-flight append beacons (see [[withAppendBeacon]]) to drain:
    * the lease fences new appends from starting, the beacon wait
    * fences maintenance from starting under an append already landing
    * files — the two halves of the reader-writer contract.
    */
  private[etl] def acquireLease(spark: SparkSession, path: String, op: String,
                                ttlMs: Long): String = {
    val now = System.currentTimeMillis()
    val claimId = java.util.UUID.randomUUID().toString
    val p = leasePath(path)
    val fs = fsOf(spark, p)
    readLease(spark, path).foreach { l =>
      if (l.op == CorruptOp)
        throw new ConcurrentMaintenanceException(
          s"maintenance lease at $path is unreadable (crash during a " +
          "previous acquire?) and its holder's age is unknowable — " +
          "confirm nothing is running, then BandIndex.breakLease")
      if (!l.staleAt(now))
        throw new ConcurrentMaintenanceException(
          s"maintenance lease at $path is held by '${l.op}' (expires in " +
          s"${(l.acquiredAtMs + l.ttlMs - now) / 1000}s) — wait for it to " +
          "finish; if its holder crashed, wait for expiry or call " +
          "BandIndex.breakLease")
      // stale: claim it by rename — atomic win against racing takers —
      // then VERIFY the claimed content is the stale lease we read. A
      // slow taker could otherwise rename a rival's freshly-created
      // lease (p is re-created between the rival's claim and ours);
      // content mismatch = we grabbed a live lease → put it back, bow
      // out. The (op, acquiredAtMs) pair makes fresh ≠ stale certain.
      val claim = new org.apache.hadoop.fs.Path(path,
        LeaseFileName + ".claim." + java.util.UUID.randomUUID().toString.take(8))
      if (!fs.rename(p, claim))
        throw new ConcurrentMaintenanceException(
          s"lost the stale-lease takeover race at $path — retry")
      val claimedText = {
        val in = fs.open(claim)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      }
      if (claimedText != l.encode) {
        fs.rename(claim, p) // restore the rival's live lease (best effort)
        throw new ConcurrentMaintenanceException(
          s"stale-lease takeover at $path raced a completed rival " +
          "takeover — retry")
      }
      fs.delete(claim, false)
    }
    val out =
      try fs.create(p, false)
      catch { case _: java.io.IOException =>
        throw new ConcurrentMaintenanceException(
          s"maintenance lease at $path was acquired concurrently — retry")
      }
    try out.write(Lease(op, now, ttlMs, claimId).encode.getBytes("UTF-8"))
    finally out.close()
    // holding the lease, reclaim claim-file residue from takers that
    // crashed between their rename and delete (nothing reads these)
    fs.listStatus(hadoopPath(path)).foreach { st =>
      if (st.isFile && st.getPath.getName.startsWith(LeaseFileName + ".claim."))
        fs.delete(st.getPath, false)
    }
    try awaitNoAppendBeacons(spark, path)
    catch { case e: Throwable => releaseLease(spark, path, claimId); throw e }
    claimId
  }

  /** Release the lease ONLY if it is still ours: a paused holder whose
    * lease expired and was taken over must not delete the new holder's
    * live lease on its way out (the delete-a-rival's-lease hole a plain
    * [[breakLease]] release would re-open). A legacy claimId-less lease
    * is deleted unconditionally — it cannot be fence-matched.
    */
  private[etl] def releaseLease(spark: SparkSession, path: String,
                                claimId: String): Unit =
    readLease(spark, path).foreach { l =>
      if (l.claimId == claimId || l.claimId.isEmpty)
        breakLease(spark, path)
    }

  /** The write-side half of the fencing contract: called immediately
    * before each catalog-mutating generation-swap step, it re-reads the
    * lease file and refuses the commit unless the on-file claimId is
    * still `claimId`. A holder paused past its TTL whose lease a rival
    * took over sees the rival's claimId here and aborts instead of
    * sweeping the rival's freshly-written generation. One FS read per
    * table swap — noise against a full-table rewrite. The window
    * between this check and the swap itself is one catalog roundtrip,
    * down from the whole maintenance op; a fully airtight commit would
    * need a CAS the filesystem does not offer.
    */
  private[etl] def verifyFence(spark: SparkSession, path: String,
                               claimId: String): Unit =
    readLease(spark, path) match {
      case Some(l) if l.claimId == claimId => ()
      case Some(l) if l.claimId.isEmpty => () // legacy lease: no fence to check
      case Some(l) =>
        throw new ConcurrentMaintenanceException(
          s"fencing check failed at $path: this holder's lease was taken " +
          s"over by '${l.op}' (claim ${l.claimId.take(8)}…) — the commit " +
          "is refused; the takeover implies this holder ran past its TTL " +
          "(GC/VM pause?), so size ttlMs to the op's true upper bound")
      case None =>
        throw new ConcurrentMaintenanceException(
          s"fencing check failed at $path: the lease vanished mid-op " +
          "(operator breakLease?) — the commit is refused")
    }

  private val BeaconPrefix = "_append_beacon_"

  /** How long a beacon is trusted without a heartbeat: a crashed
    * appender's beacon blocks maintenance for at most this long.
    * [[withAppendBeacon]] refreshes the beacon's mtime every ttl/4, so
    * on filesystems with working `setTimes` (HDFS, local) an append of
    * ANY duration stays fenced. CAVEAT for object stores: S3A's
    * `setTimes` is a no-op — there the heartbeat cannot extend the
    * beacon, and this TTL must be sized to the maximum append
    * duration instead.
    */
  val BeaconTtlMs: Long = 10L * 60 * 1000

  private def freshBeacons(fs: org.apache.hadoop.fs.FileSystem,
                           root: org.apache.hadoop.fs.Path): Seq[String] = {
    if (!fs.exists(root)) return Nil
    val now = System.currentTimeMillis()
    fs.listStatus(root).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(BeaconPrefix))
      .filter(st => now - st.getModificationTime < BeaconTtlMs)
      .map(_.getPath.getName)
  }

  /** Run `body` (an append's table writes) under a uniquely-named
    * beacon file, deleted when the append finishes — even on failure:
    * a failed append leaves no mid-swap state maintenance must wait
    * for. Beacons are what close the in-flight-append window: the
    * lease stops NEW appends, but an append that passed the lease
    * check and is still landing files would otherwise race a
    * maintenance op acquiring the lease right after.
    *
    * The beacon is HEARTBEATED (mtime refreshed every ttl/4 by a
    * daemon thread) for as long as `body` runs, so an append of ANY
    * duration stays fenced — only a genuinely crashed appender's
    * beacon goes stale, after [[BeaconTtlMs]] without a heartbeat.
    */
  private[etl] def withAppendBeacon[T](spark: SparkSession, path: String)
                                      (body: => T): T = {
    val p = new org.apache.hadoop.fs.Path(path,
      BeaconPrefix + java.util.UUID.randomUUID().toString.take(12))
    val fs = fsOf(spark, p)
    fs.mkdirs(p.getParent)
    val out = fs.create(p, false)
    try out.write(System.currentTimeMillis().toString.getBytes("UTF-8"))
    finally out.close()
    // flag-stopped, NEVER interrupted: interrupting a thread inside a
    // Hadoop FS call can fail the shared cached FileSystem client with
    // ClosedByInterruptException (poisoning every other user of the
    // FS) — the 200 ms poll granularity costs nothing against a
    // ttl/4 heartbeat period
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hb = new Thread(() => {
      var lastTouch = System.currentTimeMillis()
      while (!done.get()) {
        try Thread.sleep(200) catch { case _: InterruptedException => () }
        if (!done.get() &&
            System.currentTimeMillis() - lastTouch >= BeaconTtlMs / 4) {
          try fs.setTimes(p, System.currentTimeMillis(), -1)
          catch { case _: java.io.IOException => () } // beacon already gone
          lastTouch = System.currentTimeMillis()
        }
      }
    }, s"graft-beacon-heartbeat-${p.getName}")
    hb.setDaemon(true)
    hb.start()
    try body finally {
      done.set(true)
      fs.delete(p, false)
    }
  }

  /** Wait (bounded) for in-flight append beacons to drain after the
    * lease is taken. New appends are already fenced by the lease;
    * crashed appenders' beacons expire after [[BeaconTtlMs]].
    */
  private[etl] def awaitNoAppendBeacons(spark: SparkSession, path: String,
                                        waitMs: Long = 60000): Unit = {
    val root = hadoopPath(path)
    val fs = fsOf(spark, root)
    val deadline = System.currentTimeMillis() + waitMs
    var live = freshBeacons(fs, root)
    while (live.nonEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(500)
      live = freshBeacons(fs, root)
    }
    if (live.nonEmpty)
      throw new ConcurrentMaintenanceException(
        s"appends still in flight at $path after ${waitMs / 1000}s " +
        s"(beacons: ${live.mkString(", ")}) — retry maintenance once the " +
        "ingest quiesces; a crashed appender's beacon expires after " +
        s"${BeaconTtlMs / 1000}s")
  }

  /** Fail fast when a maintenance lease is on file — the guard
    * appends and [[classify]] run so an append can never race a
    * generation swap into a directory the swap then sweeps (silent
    * data loss), and a classify can never read a half-removed index.
    * A STALE lease still blocks: the crashed op may have left tables
    * mid-swap, and the safe order is finish-the-maintenance-first
    * (rerun it — it takes the stale lease over and releases it).
    */
  private[etl] def assertNoMaintenance(spark: SparkSession, path: String,
                                       action: String): Unit =
    readLease(spark, path).foreach { l =>
      val msg =
        if (l.op == CorruptOp)
          s"cannot $action: the maintenance lease at $path is unreadable — " +
          "confirm no maintenance runs, then BandIndex.breakLease"
        else if (!l.staleAt(System.currentTimeMillis()))
          s"cannot $action: offline maintenance '${l.op}' holds the lease " +
          s"at $path — retry after it completes"
        else
          s"cannot $action: maintenance '${l.op}' crashed holding the lease " +
          s"at $path — rerun the interrupted op (compact / remove / " +
          "Erasure.erase take over a stale lease and release it), or " +
          "BandIndex.breakLease if certain nothing is mid-swap"
      throw new ConcurrentMaintenanceException(msg)
    }

  /** Run `body` under the maintenance lease; released on success only,
    * and only if still ours ([[releaseLease]] fence-matches, so an
    * over-TTL holder cannot delete its successor's lease on exit).
    * A failed run LEAVES the lease on file — the index may be mid-swap,
    * so appenders must stay blocked until the op is rerun (stale
    * takeover) or an operator breaks the lease deliberately. `body`
    * receives the acquisition's fencing token to pass down to its
    * generation-swap commits ([[verifyFence]]).
    */
  private[etl] def withLease[T](spark: SparkSession, path: String, op: String,
                                ttlMs: Long)(body: String => T): T = {
    val fence = acquireLease(spark, path, op, ttlMs)
    val r = body(fence)
    releaseLease(spark, path, fence)
    r
  }

  /** Root directory the lease lives under, derived from the catalog for
    * callers that don't carry `path` ([[classify]]): every generation
    * dir `<path>/<table>[__g*]` is a direct child of the index root, so
    * the live table location's parent IS the root.
    */
  private def leaseRootOf(spark: SparkSession, name: String): Option[String] =
    Seq(bandsTable(name), docsTable(name), toksTable(name))
      .find(spark.catalog.tableExists)
      .map { t =>
        new org.apache.hadoop.fs.Path(
          spark.sessionState.catalog
            .getTableMetadata(TableIdentifier(t)).location)
          .getParent.toString
      }

  /** Partition count of the `_toks` table — the verify-scan prune
    * granularity. Fixed per index: create/append/read must agree, so
    * changing it requires a rebuild. 16 keeps appended-files-per-batch
    * and directory fanout small while letting a few-prefix batch skip
    * ~15/16 of the corpus token arrays; raise for very large corpora.
    */
  val PfxCount = 16

  def docsTable(name: String): String = name + "_docs"
  def bandsTable(name: String): String = name + "_bands"
  def toksTable(name: String): String = name + "_toks"

  private def pfxOf(c: org.apache.spark.sql.Column) =
    pmod(xxhash64(c), lit(PfxCount.toLong))

  /** Per-doc signature columns appended to (doc_id, text [, …]):
    * distinct token array → count `n`, order-invariant fingerprint
    * `fp`, 64-bit token hashes `th`, k salted min-hashes `m1..mk` per
    * [[LshParams]]. The input's own columns ride along, so a classified
    * batch can be sunk and appended from one frame. NULL text coalesces
    * to the one-empty-token array (the q88 cross-engine convention).
    */
  private[etl] def signatures(docs: DataFrame,
                              params: LshParams = LshParams()): DataFrame = {
    // ONE definition of the salted min-hash math for index and queries:
    // index-vs-q45/q88 classification agreement is an invariant, so the
    // expression lives in minhashCols and is shared, never re-typed
    val mins = graft.text.TextQueries.minhashCols(params)
    docs
      .withColumn("ta", array_distinct(split(coalesce(col("text"), lit("")), " ")))
      .select((docs.columns.map(col) ++ Seq(
        size(col("ta")).cast("long").as("n"),
        md5(concat_ws(" ", array_sort(col("ta"))).cast("binary")).as("fp"),
        transform(col("ta"), t => xxhash64(t)).as("th")) ++ mins): _*)
  }

  /** Signature rows → band rows (doc_id, n, band_val); the band number
    * is folded into the hash so band_val alone is the join key. Band
    * membership follows [[LshParams.bandMembers]] (nested boundaries —
    * the recall-monotonicity property).
    */
  private[etl] def bandRows(sigs: DataFrame,
                            params: LshParams = LshParams()): DataFrame =
    sigs.select(col("doc_id"), col("n"), explode(array(
      (1 to params.bands).map(b =>
        xxhash64(lit(b),
          concat(params.bandMembers(b).map(i => col(s"m$i")): _*))): _*))
      .as("band_val"))

  /** Filesystem evidence that an index already lives at `path`: the
    * params file (written by every post-params create) or any table /
    * generation directory (pre-params indexes). Complements the
    * session-catalog check in [[declare]] — a fresh session has an
    * empty catalog but the disk state is what the params pin guards.
    */
  private def indexOnDisk(spark: SparkSession, path: String,
                          name: String): Boolean =
    fsOf(spark, hadoopPath(path)).exists(
      new org.apache.hadoop.fs.Path(path, ParamsFileName)) ||
    Seq(docsTable(name), bandsTable(name), toksTable(name))
      .exists(generations(spark, path, _).nonEmpty)

  /** `table`'s generation directories under the index root `path`:
    * the create-time `<table>` and every `<table>__g*`.
    */
  private def generations(spark: SparkSession, path: String,
                          table: String): Seq[org.apache.hadoop.fs.Path] = {
    val root = hadoopPath(path)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isDirectory && (n == table || n.startsWith(table + "__g"))
    }.map(_.getPath)
  }

  /** Declare the index's three tables in this session's catalog: pin
    * (or re-check) the LSH params on disk, then one `CREATE TABLE IF
    * NOT EXISTS` per table at its live directory, with the bucketing /
    * partitioning DDL that makes the band join exchange-free. Every
    * write after this is an insert into the declared table, so writes
    * follow the CATALOG location (after a [[compact]], a generation
    * directory). The live directory is the one `<table>` or
    * `<table>__g*` on disk (`<path>/<table>` for a new index); more than
    * one means a rewrite crashed before its sweep, and declare refuses
    * rather than guess which one the crashed session's catalog pointed
    * at and silently resurrect removed rows.
    */
  def declare(spark: SparkSession, name: String, path: String,
              buckets: Int = 32, params: LshParams = LshParams()): Unit = {
    val tables = Seq(bandsTable(name), docsTable(name), toksTable(name))
    writeParamsIfAbsent(spark, path, params,
      tables.exists(spark.catalog.tableExists) || indexOnDisk(spark, path, name))
    def liveDir(table: String): String = {
      val cands = generations(spark, path, table).map(_.toString)
      require(cands.size <= 1,
        s"ambiguous generations for `$table` under $path " +
        s"(${cands.mkString(", ")}): a rewrite crashed before its sweep — " +
        "resume it from the session that ran it (or consult the durable " +
        "metastore for the live location); declare will not guess")
      cands.headOption.getOrElse {
        // an empty table must read as empty, not as a missing path
        fsOf(spark, hadoopPath(path)).mkdirs(hadoopPath(s"$path/$table"))
        s"$path/$table"
      }
    }
    def declareTable(table: String, cols: String, layout: String): Boolean =
      !spark.catalog.tableExists(table) && {
        spark.sql(s"""CREATE TABLE IF NOT EXISTS `$table` ($cols) USING parquet
                     |$layout LOCATION '${liveDir(table)}'""".stripMargin)
        true
      }
    declareTable(bandsTable(name), "doc_id BIGINT, n BIGINT, band_val BIGINT",
      s"CLUSTERED BY (band_val) SORTED BY (band_val) INTO $buckets BUCKETS")
    declareTable(docsTable(name), "doc_id BIGINT, n BIGINT, fp STRING",
      s"CLUSTERED BY (fp) SORTED BY (fp) INTO $buckets BUCKETS")
    // partitioned external table over existing data: discover the pfx=… dirs
    if (declareTable(toksTable(name), "doc_id BIGINT, th ARRAY<BIGINT>, pfx BIGINT",
          "PARTITIONED BY (pfx)"))
      spark.sql(s"MSCK REPAIR TABLE `${toksTable(name)}`")
  }

  /** Append `df` to the declared `table` (columns matched by name; the
    * table's bucketing applies). `_toks` goes through one task per
    * prefix, so one append adds at most [[PfxCount]] files there, not
    * tasks×prefixes.
    */
  private def insert(df: DataFrame, table: String): Unit = {
    val meta = df.sparkSession.sessionState.catalog
      .getTableMetadata(TableIdentifier(table))
    val rows = df.select(meta.schema.fieldNames.toIndexedSeq.map(col): _*)
    (if (meta.partitionColumnNames.isEmpty) rows
     else rows.repartition(meta.partitionColumnNames.map(col): _*))
      .write.insertInto(table)
  }

  /** Build the index from a corpus of (doc_id, text [, …]): [[declare]]
    * the tables, then [[append]] the corpus — the ONE time corpus text
    * is tokenized. On an existing index this is an append, with the
    * same maintenance fence.
    */
  def create(spark: SparkSession, corpus: DataFrame, name: String,
             path: String, buckets: Int = 32,
             params: LshParams = LshParams()): Unit = {
    // a rerun during maintenance fails fast before declaring anything
    // against a disk that is mid-swap
    assertNoMaintenance(spark, path, s"append (create) to band index '$name'")
    declare(spark, name, path, buckets, params)
    // one tokenization feeding all three tables; localCheckpoint blocks
    // are executor-local, so an executor loss fails the job (rerun it)
    appendSignatures(spark,
      signatures(corpus.select("doc_id", "text"), params).localCheckpoint(),
      params, name, path)
  }

  /** Append docs (doc_id, text [, …]) to the index, declaring its
    * tables in this session first if needed; params come from the
    * index, never the caller, so drift is impossible.
    */
  def append(spark: SparkSession, docs: DataFrame, name: String,
             path: String, buckets: Int = 32): Unit =
    create(spark, docs, name, path, buckets, loadParams(spark, path))

  /** Append rows that already carry their signature columns (doc_id, n,
    * fp, th, m1..mk per `params` — [[signatures]] output, or the kept
    * rows of a [[classify]] frame) to all three tables: no second
    * tokenization, no params read. Per-bucket files accumulate until
    * [[compact]]; bucketed reads union them, partitioning intact.
    *
    * FENCE: the lease is checked under a beacon posted for the writes
    * (beacon first: a maintenance op taking the lease in between either
    * sees our beacon and waits, or its lease makes the check throw).
    *
    * Write ORDER is a crash-safety invariant: bands, then token
    * arrays, then fingerprints LAST. The three appends are not atomic;
    * the fp row is what makes a doc visible to the exact layer, so it
    * must be the commit point. Crash windows: after bands only — the
    * doc is re-KEPT on replay (exact layer misses it; its candidate
    * pairs die in verify because `_toks` has no row), and the retried
    * append rewrites everything — at worst `_bands` holds duplicate
    * rows, which the candidate `distinct()` absorbs. After bands+toks —
    * same, plus a duplicate `_toks` row whose extra verify pairs the
    * `near` distinct() absorbs. Fp-first instead would flag the
    * replayed doc as an exact dup of itself, the kept slice comes back
    * empty, and bands/toks are never backfilled — the near-dup layer
    * goes permanently blind to that doc.
    *
    * The closing refresh matters when `sigs` belongs to another session
    * than `spark` (foreachBatch's streaming clone): the insert only
    * invalidates the writing session's relation cache, and a stale
    * listing would silently re-admit duplicates.
    */
  private[graft] def appendSignatures(spark: SparkSession, sigs: DataFrame,
                                      params: LshParams, name: String,
                                      path: String): Unit = {
    withAppendBeacon(spark, path) {
      assertNoMaintenance(spark, path, s"append to band index '$name'")
      insert(bandRows(sigs, params), bandsTable(name))
      insert(sigs.select(pfxOf(col("doc_id")).as("pfx"), col("doc_id"), col("th")),
        toksTable(name))
      insert(sigs.select("doc_id", "n", "fp"), docsTable(name))
    }
    Seq(docsTable(name), bandsTable(name), toksTable(name))
      .foreach(spark.catalog.refreshTable)
  }

  /** Re-register an on-disk index in THIS session's catalog, for
    * catalog-per-app topologies: drop whatever the three names point
    * at and [[declare]] them over the index's live directories. A
    * deployment with a persistent metastore never needs this call.
    */
  def register(spark: SparkSession, name: String, path: String,
               buckets: Int = 32): Unit = {
    require(indexOnDisk(spark, path, name), s"no band index '$name' under $path")
    Seq(bandsTable(name), docsTable(name), toksTable(name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    declare(spark, name, path, buckets, loadParams(spark, path))
  }

  /** Classify a batch of (doc_id, text [, …]) against the persisted
    * index: ONE batch-sized frame, materialized by a single
    * localCheckpoint, holding the batch's own columns, their signature
    * columns (see [[signatures]]) and `flag` ∈ exact | near | kept —
    * returned with the index's pinned params, so the kept rows append
    * through [[appendSignatures]] with no second tokenization. Reads
    * only the index tables — never corpus text.
    */
  def classify(spark: SparkSession, batch: DataFrame,
               name: String): (DataFrame, LshParams) = {
    // maintenance guard: classifying against an index mid-swap (or
    // mid-remove) would silently mis-flag; the lease root comes from
    // the catalog (this entry point carries no path) and also locates
    // the pinned params. CHECK-TIME only: a classify already past it
    // races the generation sweep into a LOUD FAILED_READ_FILE abort
    // (`BandIndexSoakSpec`) that the at-least-once replay heals. That
    // is semantically safe — compact swaps identical content, and a
    // classify concurrent with a remove converges to post-remove
    // semantics (a near candidate whose band or token row is gone
    // fails verification and flags `kept`).
    val indexRoot = leaseRootOf(spark, name)
    indexRoot
      .foreach(assertNoMaintenance(spark, _, s"classify against band index '$name'"))
    // layout guard: rewrites never take a live table away, so a
    // missing _toks table means the index predates the _toks split (or
    // a PfxCount change) and needs a rebuild
    require(spark.catalog.tableExists(toksTable(name)),
      s"band index '$name' has no ${toksTable(name)} table — it predates " +
      "the _toks layout (or PfxCount changed); rebuild it with BandIndex.create")
    // the index's pinned tunables, off its own directory
    val params = indexRoot.map(loadParams(spark, _)).getOrElse(LshParams())
    (classification(spark, signatures(batch, params), name, params)
      .localCheckpoint(), params)
  }

  /** The per-doc flags of [[classify]]: (doc_id, flag). */
  def dedupBatch(spark: SparkSession, batch: DataFrame, name: String): DataFrame =
    classify(spark, batch, name)._1.select("doc_id", "flag")

  /** The LAZY classification frame behind [[classify]] — `sigs` plus
    * `flag`. Factored out, like [[candidates]], so plan specs can
    * assert its shape ([[classify]] materializes it at once). NOT fully
    * lazy: the `_toks` partition-prune list is collected here (class
    * doc).
    */
  private[etl] def classification(spark: SparkSession, sigs: DataFrame,
                                  name: String, params: LshParams): DataFrame = {
    // exact layer: one fingerprint join — `_docs` is bucketed on fp, so
    // its distinct fp side arrives exchange-free
    val flagged = sigs.join(
      spark.table(docsTable(name)).select("fp").distinct().withColumn("ex", lit(1)),
      Seq("fp"), "left_outer")
    // near layer: compact band keys of the non-exact docs vs the
    // pre-bucketed band index
    val cand = candidates(spark, flagged.filter(col("ex").isNull), name, params)
    // bounded driver round-trip: ≤ PfxCount longs, the literal
    // partition-prune list for the wide token-array table
    val pfxs = cand.select(pfxOf(col("old_id")).as("pfx")).distinct()
      .collect().map(_.getLong(0))
    // exact verify on colliding pairs only: fetch old token hashes from
    // the pruned _toks slice, intersect map-side on longs
    val near =
      if (pfxs.isEmpty) cand.select("doc_id").limit(0)
      else cand
        .join(sigs.select(col("doc_id"), col("th").as("tia")), Seq("doc_id"))
        .join(spark.table(toksTable(name))
          .filter(col("pfx").isin(pfxs.toSeq: _*))
          .select(col("doc_id").as("old_id"), col("th").as("toa")),
          Seq("old_id"))
        .withColumn("isz", size(array_intersect(col("tia"), col("toa"))).cast("long"))
        .filter(col("isz") * 1.0 / (col("ni") + col("no") - col("isz"))
          >= params.threshold)
        .select("doc_id").distinct()
    flagged
      .join(near.withColumn("nr", lit(1)), Seq("doc_id"), "left_outer")
      .withColumn("flag", when(col("ex").isNotNull, "exact")
        .when(col("nr").isNotNull, "near")
        .otherwise("kept"))
      .select((sigs.columns.map(col) :+ col("flag")): _*)
  }

  /** The LAZY candidate-pair frame of the near layer — the band join
    * against the bucketed `_bands` table. Factored out so plan specs
    * can assert its shape.
    */
  private[etl] def candidates(spark: SparkSession, sigs: DataFrame,
                              name: String,
                              params: LshParams = LshParams()): DataFrame =
    bandRows(sigs, params).as("i")
      .join(spark.table(bandsTable(name)).as("o"),
        col("i.band_val") === col("o.band_val") &&
        col("i.n") >= col("o.n") * params.threshold &&
        col("o.n") >= col("i.n") * params.threshold)
      .select(col("i.doc_id").as("doc_id"), col("o.doc_id").as("old_id"),
              col("i.n").as("ni"), col("o.n").as("no"))
      .distinct()

  /** The kept slice of a batch per its `(doc_id, flag)` frame — for
    * [[MediaBandIndex]], whose classify returns flags only. */
  def keptOf(batch: DataFrame, flags: DataFrame): DataFrame =
    batch.join(flags.filter(col("flag") === "kept").select("doc_id"),
      Seq("doc_id"), "left_semi")

  /** One full incremental step: classify the batch, append its kept
    * rows, return the per-doc flags. A caller that also sinks the kept
    * rows writes that sink BETWEEN the two (see
    * [[graft.streaming.CorpusIngestJob.ingestBatch]]), so a replay
    * re-derives the same kept set instead of finding itself indexed.
    */
  def ingest(spark: SparkSession, batch: DataFrame, name: String,
             path: String): DataFrame = {
    val (classified, params) = classify(spark, batch, name)
    appendSignatures(spark, classified.filter(col("flag") === "kept"),
      params, name, path)
    classified.select("doc_id", "flag")
  }

  /** Count the data files currently backing `table` (hidden/_SUCCESS
    * files excluded) — the small-file pressure gauge for
    * [[compactIfNeeded]].
    */
  def dataFileCount(spark: SparkSession, table: String): Long = {
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(table)).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(): Long = {
      var n = 0L
      val it = fs.listFiles(loc, true)
      while (it.hasNext) {
        val f = it.next().getPath.getName
        if (!f.startsWith("_") && !f.startsWith(".")) n += 1
      }
      n
    }
    // A recursive walk racing an in-flight append is benign: a
    // `_temporary` dir can vanish between list and stat (HDFS throws
    // FileNotFound; RawLocalFileSystem's permission shell-out throws
    // RuntimeException(ExitCodeException "No such file")). This is a
    // pressure PROBE — retry the walk instead of failing the
    // maintenance scheduler (tri-store soak, round 10).
    def vanished(e: Throwable): Boolean = {
      var c = e
      while (c != null) {
        if (c.isInstanceOf[java.io.FileNotFoundException]) return true
        if (Option(c.getMessage).exists(m =>
          m.contains("No such file or directory"))) return true
        c = c.getCause
      }
      false
    }
    var attempts = 0
    while (true) {
      try return walk()
      catch {
        case e: Exception if vanished(e) && attempts < 3 =>
          attempts += 1; Thread.sleep(50)
      }
    }
    sys.error("unreachable")
  }

  /** Rewrite every index table into one fresh generation — identical
    * rows and identical bucketing/partitioning, minimal file count.
    * Each [[append]] adds up to 2×buckets + [[PfxCount]] + buckets
    * files; a long-running ingest accumulates thousands of small files
    * per bucket, and this folds them back to one file per bucket /
    * prefix.
    *
    * OFFLINE maintenance, ENFORCED by the maintenance lease: this op
    * takes `<path>/_maintenance_lease` for its duration, and
    * appends and [[classify]] fail fast with
    * [[ConcurrentMaintenanceException]] while it is on file — an
    * append can no longer race a generation swap into a directory the
    * swap then sweeps. Run it between streaming restarts. Per table
    * ([[rewriteTable]]): compacted data is written to a NEW generation
    * directory, the live table is re-pointed at it in place, then the
    * old directory is deleted. The live table name never disappears,
    * and a crash at any step leaves at most a stray temp table and an
    * orphan directory, both cleared by the next rewrite.
    */
  def compact(spark: SparkSession, name: String, path: String,
              buckets: Int = 32,
              leaseTtlMs: Long = DefaultLeaseTtlMs): Unit =
    withLease(spark, path, "compact", leaseTtlMs) { fence =>
      compactUnderLease(spark, name, path, buckets, fence)
    }

  /** [[compact]] body, lease already held — for composed maintenance
    * ops ([[graft.etl.Erasure]]) that take one lease across steps.
    * `fence` is that lease's claim token, verified at each swap commit.
    */
  private[etl] def compactUnderLease(spark: SparkSession, name: String,
                                     path: String, buckets: Int,
                                     fence: String): Unit = {
    Seq(bandsTable(name), toksTable(name), docsTable(name))
      .foreach(rewriteTable(spark, _, path, buckets, identity, fence))
  }

  /** Erase documents from the index — the takedown / right-to-be-
    * forgotten path. Deletion that stops at the corpus sink is not
    * erasure: this index holds content-DERIVED data per doc (token
    * hashes, an order-invariant fingerprint, MinHash band keys), and
    * while any of it survives, a re-crawl of the erased text is
    * classified as a duplicate of a document that officially no longer
    * exists. `remove` rewrites each table WITHOUT the given ids
    * through the same generation-swap machinery as [[compact]]
    * (bucketing/partitioning preserved, crash-resumable), after which
    * the erased doc's text classifies as `kept` again — exactly the
    * forget-semantics erasure demands.
    *
    * `docIds` is a DataFrame with a `doc_id` column: the rewrite is an
    * anti-join per table, so a million-doc takedown list scales the
    * same as a ten-doc one (AQE broadcasts small lists). IDEMPOTENT —
    * a crash mid-remove (some tables rewritten, some not) is completed
    * by rerunning with the same ids; tables already cleansed anti-join
    * to themselves. OFFLINE maintenance, lease-enforced like
    * [[compact]]. The token-richest table (`_toks`) rewrites first so
    * the most content-derived data dies earliest.
    *
    * Returns true when table rewrites ran, false when the no-op probe
    * found nothing to remove — callers composing a takedown report
    * ([[graft.etl.Erasure]]) can distinguish "cleaned the index" from
    * "already clean".
    */
  def remove(spark: SparkSession, name: String, path: String,
             docIds: DataFrame, buckets: Int = 32,
             leaseTtlMs: Long = DefaultLeaseTtlMs): Boolean =
    withLease(spark, path, "remove", leaseTtlMs) { fence =>
      removeUnderLease(spark, name, path, docIds, buckets, fence)
    }

  /** [[remove]] body, lease already held (see [[compactUnderLease]]). */
  private[etl] def removeUnderLease(spark: SparkSession, name: String,
                                    path: String, docIds: DataFrame,
                                    buckets: Int, fence: String): Boolean = {
    val ids = docIds.select("doc_id").distinct().localCheckpoint()
    // no-op probe: `_bands` is rewritten LAST, so ids absent from it
    // mean every prior remove completed all three tables — reruns and
    // never-indexed takedown lists cost one semi-join, not three
    // full-table rewrites. Before returning, sweep orphan generations
    // of all three tables (a cheap directory listing): a prior remove
    // that crashed between its final swap and its sweep left a
    // superseded generation dir — still holding the erased docs'
    // derived rows — that the documented rerun-recovery would
    // otherwise never reclaim.
    if (spark.catalog.tableExists(bandsTable(name)) &&
        spark.table(bandsTable(name))
          .join(ids, Seq("doc_id"), "left_semi").isEmpty) {
      // the sweep DELETES directories, so it is a commit like any swap:
      // fence-check first, or a paused holder that lost its lease could
      // sweep the new holder's in-progress generation dir as an orphan
      verifyFence(spark, path, fence)
      Seq(bandsTable(name), docsTable(name), toksTable(name))
        .filter(spark.catalog.tableExists)
        .foreach(sweepOrphanGenerations(spark, _, path))
      return false
    }
    def drop(df: DataFrame): DataFrame =
      df.join(ids, Seq("doc_id"), "left_anti")
    Seq(toksTable(name), docsTable(name), bandsTable(name))
      .foreach(rewriteTable(spark, _, path, buckets, drop, fence))
    true
  }

  /** [[compact]] only when some table's data-file count exceeds
    * `maxFiles` — the cheap guard a periodic maintenance job calls.
    * Returns true when a compaction ran.
    */
  def compactIfNeeded(spark: SparkSession, name: String, path: String,
                      buckets: Int = 32, maxFiles: Long = 512,
                      leaseTtlMs: Long = DefaultLeaseTtlMs): Boolean = {
    val pressed = Seq(docsTable(name), bandsTable(name), toksTable(name))
      .exists(dataFileCount(spark, _) > maxFiles)
    if (pressed) compact(spark, name, path, buckets, leaseTtlMs)
    pressed
  }

  /** Generation-swap rewrite of one table: write `transform(table)` to
    * a fresh generation dir under a temp name (declared `LIKE` the live
    * table, so bucketing and partitioning carry over), re-point the
    * live table at it, sweep superseded generations. Shared by
    * [[compact]] (identity transform) and [[remove]] (anti-join
    * transform). A bucketed table's rows are repartitioned by the
    * bucket column into `buckets` partitions first — Spark's bucket id
    * is that hash partitioning's partition id, so each bucket gets
    * exactly one file (a coalesce merges whole partitions).
    *
    * The live name exists at every step, so a reader never finds it
    * missing. A death before the re-point leaves the live table
    * untouched plus a stray temp table and orphan generation dir; the
    * next rewrite's DROP TABLE IF EXISTS (external: catalog entry only)
    * and sweep clear both. A death after it leaves only the superseded
    * generation dir, which the next sweep deletes.
    */
  private def rewriteTable(spark: SparkSession, table: String,
                           path: String, buckets: Int,
                           transform: DataFrame => DataFrame,
                           fence: String): Unit = {
    val tmpTable = table + "__compacting"
    spark.sql(s"DROP TABLE IF EXISTS `$tmpTable`")
    // fresh generation dir: path/<table>__g<epoch-millis>_<uuid8> — the
    // random suffix (not a clock alone: nanoTime resets across reboots,
    // millis can repeat under clock skew) guarantees neither a crashed
    // rewrite's leftovers nor the live generation collide, so the temp
    // table can never be declared over a directory holding stale parquet
    val genDir = s"$path/${table}__g${System.currentTimeMillis()}_" +
      java.util.UUID.randomUUID().toString.take(8)
    spark.sql(s"CREATE TABLE `$tmpTable` LIKE `$table` LOCATION '$genDir'")
    val meta = spark.sessionState.catalog.getTableMetadata(TableIdentifier(table))
    insert(meta.bucketSpec.fold(transform(spark.table(table))) { b =>
      // the bucketed table's FILES, not the table: over a bucketed scan
      // the planner drops this repartition as already satisfied, then
      // disables the bucketed scan because nothing needs it — and every
      // read task writes its own file per bucket again. The coalesce
      // keeps whole buckets together while capping the write tasks at
      // one per core: `buckets` near-empty write tasks cost more CPU
      // than the whole rewrite otherwise does
      transform(spark.read.schema(meta.schema).parquet(meta.location.toString))
        .repartition(buckets, col(b.bucketColumnNames.head))
        .coalesce(math.min(buckets, spark.sparkContext.defaultParallelism))
    }, tmpTable)
    // commit point: the long rewrite above is where a TTL overrun
    // happens — re-check the fence before the swap
    verifyFence(spark, path, fence)
    spark.sql(s"ALTER TABLE `$table` SET LOCATION '$genDir'")
    repointPartitions(spark, table, tmpTable)
    spark.sql(s"DROP TABLE `$tmpTable`")
    spark.catalog.refreshTable(table)
    sweepOrphanGenerations(spark, table, path)
  }

  /** SET LOCATION moves a table, not its partitions: each catalog
    * partition keeps pointing at the old generation, which the sweep
    * then deletes — reads would return zero rows without an error. So
    * re-point every partition of a partitioned table (`_toks`) to the
    * temp table's copy of the same spec, and drop those the new
    * generation lacks (a remove can only shrink the set, a compact
    * keeps it).
    */
  private def repointPartitions(spark: SparkSession, table: String,
                                tmpTable: String): Unit = {
    val cat = spark.sessionState.catalog
    val live = TableIdentifier(table)
    if (cat.getTableMetadata(live).partitionColumnNames.isEmpty) return
    val fresh = cat.listPartitions(TableIdentifier(tmpTable))
      .map(p => p.spec -> p.storage.locationUri).toMap
    val (kept, gone) =
      cat.listPartitions(live).partition(p => fresh.contains(p.spec))
    cat.alterPartitions(live, kept.map(p =>
      p.copy(storage = p.storage.copy(locationUri = fresh(p.spec)))))
    cat.dropPartitions(live, gone.map(_.spec), ignoreIfNotExists = true,
      purge = false, retainData = true)
  }

  /** Delete every superseded generation of `table` under `path` — the
    * `<table>__g*` dirs AND the create-time `path/<table>` dir — except
    * those the live table or any of its partitions currently points
    * at (a rewrite that died between SET LOCATION and
    * [[repointPartitions]] leaves `_toks` partitions reading the
    * previous generation; deleting it would empty them). Runs after every
    * [[rewriteTable]] swap, so orphans from crashed runs (whose exact
    * names are unknowable at resume time) are reclaimed on the next
    * successful rewrite rather than leaking erased data forever.
    */
  private def sweepOrphanGenerations(spark: SparkSession, table: String,
                                     path: String): Unit = {
    val cat = spark.sessionState.catalog
    val live = TableIdentifier(table)
    val meta = cat.getTableMetadata(live)
    val partGens =
      if (meta.partitionColumnNames.isEmpty) Nil
      else cat.listPartitions(live).map(p =>
        new org.apache.hadoop.fs.Path(p.location).getParent)
    val keep = (new org.apache.hadoop.fs.Path(meta.location) +: partGens)
      .map(_.toUri.getPath).toSet
    generations(spark, path, table).filterNot(p => keep(p.toUri.getPath))
      .foreach(p => fsOf(spark, p).delete(p, true))
  }
}
