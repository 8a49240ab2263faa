package graft.etl

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{DropTablePreEvent,
  ExternalCatalogEvent, ExternalCatalogEventListener, RenameTablePreEvent}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._

/** [[BandIndex]] — the persisted incremental-dedup index: build once,
  * classify batches against it WITHOUT re-tokenizing the corpus, append
  * kept docs. The classifications must agree with the verified q88
  * inline form, and the plan must show the corpus side arriving
  * pre-partitioned off the bucketed tables (zero corpus-side Exchange).
  */
class BandIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-bidx").toString

  /** 200-token doc; `change` swaps one token → Jaccard 199/201 ≈ 0.9900. */
  private def bigDoc(change: Boolean): String =
    (0 until 200).map(i =>
      if (change && i == 7) "changed" else s"tok$i").mkString(" ")

  private def dropTables(name: String): Unit =
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name),
        BandIndex.docsTable(name) + "__compacting",
        BandIndex.bandsTable(name) + "__compacting",
        BandIndex.toksTable(name) + "__compacting")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))

  test("classifies exact / near / kept against a persisted index") {
    val name = "bidx_fix"
    dropTables(name)
    val corpus = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, bigDoc(change = false)),
      (3L, "solo words here")).toDF("doc_id", "text")
    BandIndex.create(spark, corpus, name, tmp(), buckets = 4)
    val batch = Seq(
      (10L, "alpha beta gamma delta"), // exact dup of 1
      (11L, bigDoc(change = true)),    // near dup of 2 (j = 199/201)
      (12L, "entirely fresh content")).toDF("doc_id", "text")
    val flags = classify(batch, name)
    assert(flags === Map(10L -> "exact", 11L -> "near", 12L -> "kept"))
  }

  test("agrees with the verified inline q88 classification at sf0.001") {
    val name = "bidx_q88"
    dropTables(name)
    val docs = Tables.load(spark, SparkSpec.Sf0001, "documents")
      .withColumn("bucket", pmod(expr(
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 15), 16, 10) as bigint)"),
        lit(100L)))
    val old = docs.filter($"bucket" < 70).select("doc_id", "text")
    val batch = docs.filter($"bucket" >= 70).select("doc_id", "text", "source")
    BandIndex.create(spark, old, name, tmp(), buckets = 4)
    val mine = BandIndex.dedupBatch(spark, batch, name)
      .join(batch.select("doc_id", "source"), Seq("doc_id"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_incoming"),
           count_if($"flag" === "exact").as("n_exact_dup"),
           count_if($"flag" === "near").as("n_near_dup"),
           count_if($"flag" === "kept").as("n_kept"))
      .orderBy($"source")
      .collect().map(_.toSeq).toSeq
    val q88 = graft.SparkEntry
      .queries("q88_incremental_dedup")(spark, SparkSpec.Sf0001)
      .collect().map(_.toSeq).toSeq
    assert(mine === q88)
  }

  test("batch dedup reads only the index; corpus band side has no Exchange") {
    val name = "bidx_plan"
    dropTables(name)
    val path = tmp()
    val corpus = Seq((1L, "alpha beta gamma"), (2L, bigDoc(false)))
      .toDF("doc_id", "text")
    BandIndex.create(spark, corpus, name, path, buckets = 4)
    val batch = Seq((10L, "alpha beta gamma"), (11L, "other stuff"))
      .toDF("doc_id", "text")
    // asserted on the lazy candidates() and classification() frames —
    // classify materializes the classification at once, so its joins
    // never appear in the returned frame's plan.
    val (candPlan, flagsPlan) = withStaticPlan {
      (candidatesPlan(batch, name), classificationPlan(batch, name))
    }
    // 1. no file scan outside the index directory: the corpus raw text
    //    is never re-read (the batch is an in-memory frame)
    val scans = (candPlan.collect { case s: FileSourceScanExec => s }
      ++ flagsPlan.collect { case s: FileSourceScanExec => s })
    assert(scans.nonEmpty)
    scans.foreach { s =>
      val loc = s.relation.location.rootPaths.mkString(",")
      assert(loc.contains(path), s"scan outside the index: $loc")
    }
    // 2. the band join's index side arrives pre-partitioned from the
    //    bucketed table: no ShuffleExchange anywhere in that subtree
    assertBandJoinExchangeFree(candPlan, name)
  }

  private def flagsOf(flags: DataFrame): Map[Long, String] =
    flags.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  private def classify(batch: DataFrame, name: String): Map[Long, String] =
    flagsOf(BandIndex.dedupBatch(spark, batch, name))

  /** Static plan: AQE off so the shape is data-independent, broadcast
    * off so the bucketed-join claim is actually exercised.
    */
  private def withStaticPlan[T](body: => T): T = {
    val confs = Map("spark.sql.adaptive.enabled" -> "false",
                    "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> spark.conf.get(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  private def candidatesPlan(batch: DataFrame, name: String) =
    BandIndex.candidates(spark, BandIndex.signatures(batch), name)
      .queryExecution.executedPlan

  private def classificationPlan(batch: DataFrame, name: String) =
    BandIndex.classification(spark, BandIndex.signatures(batch), name,
      graft.text.LshParams()).queryExecution.executedPlan

  /** The band join must read `_bands` exchange-free (bucketed layout). */
  private def assertBandJoinExchangeFree(
      plan: org.apache.spark.sql.execution.SparkPlan, name: String): Unit = {
    val bandJoins = plan.collect {
      case j: BaseJoinExec
        if j.leftKeys.exists(_.references.exists(_.name == "band_val")) => j
    }
    assert(bandJoins.nonEmpty, plan.toString.take(3000))
    bandJoins.foreach { j =>
      val indexSide = Seq(j.left, j.right).find(side =>
        side.collect { case s: FileSourceScanExec => s }.exists(
          _.relation.location.rootPaths.mkString(",")
            .contains(BandIndex.bandsTable(name))))
      assert(indexSide.isDefined, j.toString.take(2000))
      val shuffles = indexSide.get.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty,
        s"corpus band side shuffles despite bucketing:\n${indexSide.get}")
    }
  }

  /** Data files of the index's tables per slot: (table, bucket id) for
    * the bucketed tables, (table, pfx directory) for `_toks`.
    */
  private def dataFilesPerSlot(name: String): Map[(String, String), Int] =
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name)).flatMap { t =>
      val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
        .getTableMetadata(TableIdentifier(t)).location)
      val it = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listFiles(loc, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
        .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
        .map(p => (t, BucketingUtils.getBucketId(p.getName)
          .fold(p.getParent.getName)(_.toString)))
        .toSeq
    }.groupBy(identity).map { case (k, v) => k -> v.size }

  /** `_toks` reads through its catalog partitions, which a table-level
    * SET LOCATION does not move: after a rewrite every partition must
    * sit under the live location, and the table must read exactly what
    * that location holds (a stale partition reads 0 rows, no error).
    */
  private def assertToksFollowLiveLocation(name: String): Unit = {
    val cat = spark.sessionState.catalog
    val toks = TableIdentifier(BandIndex.toksTable(name))
    val live = cat.getTableMetadata(toks).location
    val parts = cat.listPartitions(toks)
    assert(parts.nonEmpty)
    parts.foreach { p =>
      assert(p.location.getPath.startsWith(live.getPath + "/"),
        s"partition ${p.location} not under live location $live")
    }
    val onDisk = spark.read.parquet(live.toString).count()
    assert(onDisk > 0)
    assert(spark.table(toks.table).count() === onDisk)
  }

  test("verify lookup reads a partition-pruned _toks slice") {
    val name = "bidx_pfx"
    dropTables(name)
    val corpus = Seq((1L, bigDoc(false)), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    BandIndex.create(spark, corpus, name, tmp(), buckets = 4)
    val batch = Seq((11L, bigDoc(true))).toDF("doc_id", "text") // near-dup → collides
    // AQE off: collect() on an adaptive plan stops at stage
    // boundaries and would miss the scan
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    val plan = try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      // executedPlan is lazy — force it INSIDE the conf window
      classificationPlan(batch, name)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    val toksScans = plan.collect {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.mkString(",")
          .contains(BandIndex.toksTable(name)) => s
    }
    assert(toksScans.nonEmpty)
    // the literal pfx IN (...) list derived from the colliding old docs
    // must reach the scan as a partition filter — that is the whole
    // point of the _toks layout (wide th column never corpus-scanned)
    toksScans.foreach { s =>
      assert(s.partitionFilters.nonEmpty, s.toString.take(1500))
    }
    assert(classify(batch, name) === Map(11L -> "near"))
  }

  test("compaction preserves classifications, layout, and shrinks files") {
    val name = "bidx_cpt"
    dropTables(name)
    val path = tmp()
    BandIndex.create(spark,
      Seq((1L, "alpha beta gamma delta"), (2L, bigDoc(false)))
        .toDF("doc_id", "text"),
      name, path, buckets = 8)
    // several appends → several file generations per bucket; 8 buckets
    // over the session's 4 cores, so the rewrite's write tasks each
    // take several whole buckets
    (0 until 3).foreach { i =>
      BandIndex.append(spark,
        Seq((100L + i, s"fresh content number $i")).toDF("doc_id", "text"),
        name, path, buckets = 8)
    }
    val batch = Seq(
      (10L, "alpha beta gamma delta"),     // exact of 1
      (11L, bigDoc(true)),                 // near of 2
      (12L, "fresh content number 1"),     // exact of an appended doc
      (13L, "wholly new text")).toDF("doc_id", "text")
    val before = classify(batch, name)
    val filesBefore = dataFilesPerSlot(name).values.sum

    BandIndex.compact(spark, name, path, buckets = 8)
    assertToksFollowLiveLocation(name)

    val after = classify(batch, name)
    assert(after === before)
    assert(before === Map(10L -> "exact", 11L -> "near",
                          12L -> "exact", 13L -> "kept"))
    // one data file per bucket and per pfx, as compaction promises
    val perSlot = dataFilesPerSlot(name)
    assert(perSlot.values.forall(_ == 1), perSlot)
    assert(perSlot.values.sum < filesBefore,
      s"compaction did not shrink files: $filesBefore -> ${perSlot.values.sum}")

    // bucketing survives the rewrite: the band join's index side still
    // arrives exchange-free (same assertion as the plan spec)
    assertBandJoinExchangeFree(withStaticPlan(candidatesPlan(batch, name)), name)

    // a second compaction must not collide with the first's generation
    BandIndex.compact(spark, name, path, buckets = 8)
    val again = classify(batch, name)
    assert(again === before)
  }

  test("append keeps working after compaction (writes follow the catalog location)") {
    // compaction re-points each table at a fresh generation directory;
    // an append that re-passed the ORIGINAL path would be rejected by
    // Spark with a location mismatch — every post-compaction append
    // must follow the catalog, not the creation-time path
    val name = "bidx_apc"
    dropTables(name)
    val path = tmp()
    BandIndex.create(spark,
      Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      name, path, buckets = 4)
    BandIndex.compact(spark, name, path, buckets = 4)
    BandIndex.append(spark,
      Seq((2L, "post compact content")).toDF("doc_id", "text"),
      name, path, buckets = 4)
    val flags = classify(Seq((10L, "post compact content"),
      (11L, "brand new words")).toDF("doc_id", "text"), name)
    assert(flags === Map(10L -> "exact", 11L -> "kept"))
  }

  test("a crashed swap does not swallow a pending remove's transform") {
    // the one crash window a rewrite has: death after writing the temp
    // generation, before re-pointing the live table. The stray temp
    // table (here on _bands) still holds doc 1's rows; a remove of
    // doc 1 must clear it and its directory and still apply its own
    // anti-join — without ever dropping or renaming a live table
    val name = "bidx_crm"
    dropTables(name)
    val path = tmp()
    BandIndex.create(spark,
      Seq((1L, "alpha beta gamma delta"), (2L, bigDoc(false)))
        .toDF("doc_id", "text"),
      name, path, buckets = 4)
    val bands = BandIndex.bandsTable(name)
    val strayDir = new java.io.File(s"$path/${bands}__g0_crashed")
    spark.table(bands).write.option("path", strayDir.toString)
      .saveAsTable(bands + "__compacting")
    // catalog events post synchronously: record every name a DROP or
    // RENAME takes away during the remove
    val takenAway = scala.collection.mutable.ArrayBuffer.empty[String]
    val watch: ExternalCatalogEventListener = (e: ExternalCatalogEvent) =>
      e match {
        case DropTablePreEvent(_, t) => takenAway += t
        case RenameTablePreEvent(_, t, _) => takenAway += t
        case _ =>
      }
    val catalog = spark.sharedState.externalCatalog
    catalog.addListener(watch)
    try BandIndex.remove(spark, name, path, Seq(1L).toDF("doc_id"), buckets = 4)
    finally catalog.removeListener(watch)
    assert(takenAway.toSet ===
      Set(BandIndex.bandsTable(name), BandIndex.docsTable(name),
          BandIndex.toksTable(name)).map(_ + "__compacting"),
      "a rewrite took a live table name away")
    assert(!spark.catalog.tableExists(bands + "__compacting"))
    assert(!strayDir.exists(), "the stray generation survived the rewrite")
    assert(spark.table(bands).filter(col("doc_id") === 1L).count() === 0)
    val flags = classify(Seq((10L, "alpha beta gamma delta"),
      (11L, bigDoc(true))).toDF("doc_id", "text"), name)
    assert(flags === Map(10L -> "kept", 11L -> "near"))
  }

  test("an index missing the _toks table is rejected with the rebuild remedy") {
    val name = "bidx_old"
    dropTables(name)
    val path = tmp()
    BandIndex.create(spark,
      Seq((1L, "alpha beta")).toDF("doc_id", "text"), name, path, buckets = 4)
    spark.sql(s"DROP TABLE `${BandIndex.toksTable(name)}`")
    val ex = intercept[IllegalArgumentException] {
      BandIndex.dedupBatch(spark,
        Seq((2L, "anything")).toDF("doc_id", "text"), name)
    }
    assert(ex.getMessage.contains("rebuild"))
  }

  test("remove erases a doc's derived data: its text classifies as kept again") {
    val name = "bidx_rm"
    dropTables(name)
    val path = tmp()
    BandIndex.create(spark,
      Seq((1L, "alpha beta gamma delta"), (2L, bigDoc(false)))
        .toDF("doc_id", "text"),
      name, path, buckets = 4)
    val batch = Seq(
      (10L, "alpha beta gamma delta"), // exact of 1 (to be erased)
      (11L, bigDoc(true))              // near of 2 (kept in the index)
    ).toDF("doc_id", "text")
    assert(classify(batch, name) === Map(10L -> "exact", 11L -> "near"))

    BandIndex.remove(spark, name, path,
      Seq(1L).toDF("doc_id"), buckets = 4)
    assertToksFollowLiveLocation(name)

    // the erased doc no longer suppresses its own text; the other doc
    // still does — and the operation is idempotent
    val after = classify(batch, name)
    assert(after === Map(10L -> "kept", 11L -> "near"))
    BandIndex.remove(spark, name, path,
      Seq(1L).toDF("doc_id"), buckets = 4)
    assert(classify(batch, name) === after)
    // no derived row of the erased doc survives anywhere
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name)).foreach { t =>
      assert(spark.table(t).filter(col("doc_id") === 1L).count() === 0, t)
    }
    // the rewrite preserved the layout: appends still land (catalog
    // location) and classify afterward
    BandIndex.append(spark,
      Seq((3L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      name, path, buckets = 4)
    assert(classify(batch, name) === Map(10L -> "exact", 11L -> "near"))
  }

  test("append and dedupBatch fail fast while a maintenance lease is held") {
    // the round-4 race: an append during a compact/remove generation
    // swap wrote into a directory the swap then swept — silent data
    // loss on operator error. The lease turns it into a named error.
    val name = "bidx_lse"
    dropTables(name)
    val path = tmp()
    BandIndex.create(spark,
      Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      name, path, buckets = 4)
    BandIndex.acquireLease(spark, path, "compact", 60L * 60 * 1000)
    val exA = intercept[BandIndex.ConcurrentMaintenanceException] {
      BandIndex.append(spark,
        Seq((2L, "racing append")).toDF("doc_id", "text"), name, path, 4)
    }
    assert(exA.getMessage.contains("compact"))
    intercept[BandIndex.ConcurrentMaintenanceException] {
      BandIndex.dedupBatch(spark,
        Seq((3L, "racing classify")).toDF("doc_id", "text"), name)
    }
    // nothing landed while blocked
    assert(spark.table(BandIndex.docsTable(name)).count() === 1)
    BandIndex.breakLease(spark, path)
    BandIndex.append(spark,
      Seq((2L, "post maintenance append")).toDF("doc_id", "text"), name, path, 4)
    assert(spark.table(BandIndex.docsTable(name)).count() === 2)
  }

  test("a stale lease blocks appenders but is taken over by the next maintenance run") {
    val name = "bidx_stl"
    dropTables(name)
    val path = tmp()
    BandIndex.create(spark,
      Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      name, path, buckets = 4)
    // ttl 0: stale the instant it is written — the crashed-holder state
    BandIndex.acquireLease(spark, path, "remove", ttlMs = 0)
    // appenders stay blocked (the crashed op may have left a mid-swap
    // index), with the resume remedy in the message
    val ex = intercept[BandIndex.ConcurrentMaintenanceException] {
      BandIndex.append(spark,
        Seq((2L, "blocked")).toDF("doc_id", "text"), name, path, 4)
    }
    assert(ex.getMessage.contains("crashed"))
    // the next maintenance run takes the stale lease over, finishes,
    // and releases it
    BandIndex.compact(spark, name, path, buckets = 4)
    assert(BandIndex.readLease(spark, path).isEmpty)
    BandIndex.append(spark,
      Seq((2L, "unblocked")).toDF("doc_id", "text"), name, path, 4)
    assert(spark.table(BandIndex.docsTable(name)).count() === 2)
  }

  test("maintenance waits out in-flight append beacons; stale beacons don't block") {
    // the in-flight-append window: an append past the lease check but
    // still landing files posts a beacon; maintenance taking the lease
    // must wait for it (bounded) instead of sweeping under the append
    val name = "bidx_bcn"
    dropTables(name)
    val path = tmp()
    BandIndex.create(spark,
      Seq((1L, "alpha beta")).toDF("doc_id", "text"), name, path, buckets = 4)
    val beacon = new java.io.File(path, "_append_beacon_test1234")
    java.nio.file.Files.write(beacon.toPath,
      System.currentTimeMillis().toString.getBytes)
    val ex = intercept[BandIndex.ConcurrentMaintenanceException] {
      BandIndex.awaitNoAppendBeacons(spark, path, waitMs = 1200)
    }
    assert(ex.getMessage.contains("in flight"))
    // a crashed appender's beacon goes stale and stops blocking
    beacon.setLastModified(
      System.currentTimeMillis() - BandIndex.BeaconTtlMs - 1000)
    BandIndex.awaitNoAppendBeacons(spark, path, waitMs = 1200) // returns
  }

  test("a second maintenance op fails fast on a fresh lease") {
    val name = "bidx_2mx"
    dropTables(name)
    val path = tmp()
    BandIndex.create(spark,
      Seq((1L, "alpha beta")).toDF("doc_id", "text"), name, path, buckets = 4)
    BandIndex.acquireLease(spark, path, "remove", 60L * 60 * 1000)
    intercept[BandIndex.ConcurrentMaintenanceException] {
      BandIndex.compact(spark, name, path, buckets = 4)
    }
    BandIndex.breakLease(spark, path)
    BandIndex.compact(spark, name, path, buckets = 4)
    assert(BandIndex.readLease(spark, path).isEmpty)
  }

  test("fencing token: a takeover refuses the paused holder's stale swap commit") {
    // VERDICT r5 #7: wall-clock leases admit a GC/VM-paused holder that
    // resumes after expiry and completes a generation swap over the new
    // holder's work. The fencing token closes it: the resumed holder's
    // commit re-reads the lease, sees the rival's claim id, and aborts
    // BEFORE the destructive DROP — live tables untouched.
    val name = "bidx_fnc"
    dropTables(name)
    val path = tmp()
    BandIndex.create(spark,
      Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"))
        .toDF("doc_id", "text"),
      name, path, buckets = 4)
    // holder A: ttl 0 = stale the instant it is written — the paused-
    // past-TTL state, with A's body still to run
    val fenceA = BandIndex.acquireLease(spark, path, "compact", ttlMs = 0)
    // rival B takes the stale lease over and now legitimately owns it
    val fenceB = BandIndex.acquireLease(spark, path, "remove",
      60L * 60 * 1000)
    assert(fenceA !== fenceB)
    assert(BandIndex.readLease(spark, path).exists(_.claimId == fenceB))
    // A resumes its compact body carrying its lost fence: the swap
    // commit must be refused, and the live tables left untouched
    val before = spark.table(BandIndex.docsTable(name)).count()
    val ex = intercept[BandIndex.ConcurrentMaintenanceException] {
      BandIndex.compactUnderLease(spark, name, path, buckets = 4,
        fence = fenceA)
    }
    assert(ex.getMessage.contains("fencing"))
    assert(spark.table(BandIndex.docsTable(name)).count() === before)
    // A's exit release must not delete B's live lease (the second half
    // of the hole: a plain breakLease on the way out would)
    BandIndex.releaseLease(spark, path, fenceA)
    assert(BandIndex.readLease(spark, path).exists(_.claimId == fenceB))
    // B's own commits pass the fence end-to-end; release leaves no lease
    assert(BandIndex.removeUnderLease(spark, name, path,
      Seq(1L).toDF("doc_id"), 4, fenceB))
    BandIndex.releaseLease(spark, path, fenceB)
    assert(BandIndex.readLease(spark, path).isEmpty)
    assert(spark.table(BandIndex.docsTable(name))
      .filter(col("doc_id") === 1L).count() === 0)
  }

  test("a remove rerun reclaims the orphan generation a crash left behind") {
    // ADVICE r4: crash between remove's final swap and its sweep leaves
    // the superseded generation — still holding the erased doc's band
    // rows — on disk, and the documented rerun short-circuited at the
    // no-op probe without reclaiming it. The rerun must sweep.
    val name = "bidx_orp"
    dropTables(name)
    val path = tmp()
    BandIndex.create(spark,
      Seq((1L, "alpha beta gamma delta"), (2L, bigDoc(false)))
        .toDF("doc_id", "text"),
      name, path, buckets = 4)
    assert(BandIndex.remove(spark, name, path, Seq(1L).toDF("doc_id"), 4))
    // simulate the crash leftover: an orphaned generation dir with data
    val orphan = new java.io.File(s"$path/${BandIndex.bandsTable(name)}__g0_dead")
    orphan.mkdirs()
    java.nio.file.Files.write(orphan.toPath.resolve("part-0.parquet"),
      "stale".getBytes)
    // and a _toks rewrite that died between SET LOCATION and the
    // partition re-point: the table names an empty generation while
    // its partitions still read the previous one, which must survive
    val toks = BandIndex.toksTable(name)
    val half = new java.io.File(s"$path/${toks}__g1_half")
    half.mkdirs()
    spark.sql(s"ALTER TABLE `$toks` SET LOCATION '$half'")
    val toksRows = spark.table(toks).count()
    // rerun hits the no-op probe (false = nothing rewritten) AND sweeps
    assert(!BandIndex.remove(spark, name, path, Seq(1L).toDF("doc_id"), 4))
    assert(!orphan.exists(), "orphan generation survived the rerun")
    assert(toksRows > 0 && spark.table(toks).count() === toksRows)
    assert(BandIndex.readLease(spark, path).isEmpty)
  }

  test("non-default LshParams flow end-to-end: pinned on disk, honored by classify") {
    // 50-token doc with one token swapped: J = 49/51 ≈ 0.961 — near
    // under t = 0.95, NOT under the default 0.99. 4 bands of 2 give
    // the candidate stage ~1 − (1 − 0.96²)⁴ ≈ 0.9999 collision odds
    // (and md5 is deterministic, so the outcome is fixed, not flaky).
    def doc50(change: Boolean): String =
      (0 until 50).map(i =>
        if (change && i == 11) "swapped" else s"w$i").mkString(" ")
    val p95 = graft.text.LshParams(numHashes = 8, bands = 4, threshold = 0.95)

    val name = "bidx_prm"
    dropTables(name)
    val path = tmp()
    BandIndex.create(spark,
      Seq((1L, doc50(false))).toDF("doc_id", "text"),
      name, path, buckets = 4, params = p95)
    assert(BandIndex.loadParams(spark, path) === p95)
    val batch = Seq((10L, doc50(true))).toDF("doc_id", "text")
    assert(classify(batch, name) === Map(10L -> "near"))

    // appends inherit the PINNED params (4 bands), so an appended
    // doc's near-dups still collide — and a re-create with different
    // params is rejected with the rebuild remedy
    BandIndex.append(spark,
      Seq((2L, "totally different fresh content words")).toDF("doc_id", "text"),
      name, path, buckets = 4)
    assert(classify(batch, name) === Map(10L -> "near"))
    val ex = intercept[IllegalArgumentException] {
      BandIndex.create(spark,
        Seq((3L, "x")).toDF("doc_id", "text"), name, path, buckets = 4,
        params = graft.text.LshParams(8, 2, 0.95))
    }
    assert(ex.getMessage.contains("rebuild"))

    // the same 0.961 pair against a DEFAULT-params index stays kept:
    // the candidate may collide, but the 0.99 verify rejects it —
    // threshold is honored at the exact stage, not just banding
    val name2 = "bidx_prm_d"
    dropTables(name2)
    BandIndex.create(spark,
      Seq((1L, doc50(false))).toDF("doc_id", "text"),
      name2, tmp(), buckets = 4)
    assert(classify(batch, name2) === Map(10L -> "kept"))
  }

  test("register rebuilds the catalog entries for an on-disk index, bucketing intact") {
    val name = "bidx_reg"
    dropTables(name)
    val path = tmp()
    BandIndex.create(spark,
      Seq((1L, "alpha beta gamma delta"), (2L, bigDoc(false)))
        .toDF("doc_id", "text"),
      name, path, buckets = 4)
    // compact so every table lives in a __g generation dir (the
    // harder discovery case), then append post-compact content
    BandIndex.compact(spark, name, path, buckets = 4)
    BandIndex.append(spark,
      Seq((3L, "post compact appended words")).toDF("doc_id", "text"),
      name, path, buckets = 4)
    val batch = Seq(
      (10L, "alpha beta gamma delta"),      // exact of 1
      (11L, bigDoc(true)),                  // near of 2
      (12L, "post compact appended words"), // exact of 3
      (13L, "wholly new text")).toDF("doc_id", "text")
    val before = classify(batch, name)

    // simulate a fresh application: this catalog forgets the tables
    dropTables(name)
    BandIndex.register(spark, name, path, buckets = 4)

    val after = classify(batch, name)
    assert(after === before)
    assert(before === Map(10L -> "exact", 11L -> "near",
                          12L -> "exact", 13L -> "kept"))
    // the re-registered bucketing still makes the band join
    // exchange-free — the whole point of re-stating CLUSTERED BY
    assertBandJoinExchangeFree(withStaticPlan(candidatesPlan(batch, name)), name)
    // and appends keep landing through the re-registered catalog
    BandIndex.append(spark,
      Seq((4L, "post register append")).toDF("doc_id", "text"),
      name, path, buckets = 4)
    assert(spark.table(BandIndex.docsTable(name)).count() === 4)

    // ambiguity refusal: a leftover generation dir means a crashed
    // rewrite — register must not guess which generation is live
    dropTables(name)
    val orphan = new java.io.File(s"$path/${BandIndex.bandsTable(name)}__g0_dead")
    orphan.mkdirs()
    val ex = intercept[IllegalArgumentException] {
      BandIndex.register(spark, name, path, buckets = 4)
    }
    assert(ex.getMessage.contains("ambiguous"))
  }

  test("compactIfNeeded fires only above the file-count threshold") {
    val name = "bidx_cin"
    dropTables(name)
    val path = tmp()
    BandIndex.create(spark,
      Seq((1L, "alpha beta")).toDF("doc_id", "text"), name, path, buckets = 4)
    assert(!BandIndex.compactIfNeeded(spark, name, path, buckets = 4,
      maxFiles = 10000))
    assert(BandIndex.compactIfNeeded(spark, name, path, buckets = 4,
      maxFiles = 0))
  }

  test("ingest appends kept docs: re-running the same batch yields no new keeps") {
    val name = "bidx_app"
    dropTables(name)
    val path = tmp()
    val corpus = Seq((1L, "alpha beta gamma delta"), (2L, bigDoc(false)))
      .toDF("doc_id", "text")
    BandIndex.create(spark, corpus, name, path, buckets = 4)
    val batch = Seq(
      (10L, "alpha beta gamma delta"),
      (11L, bigDoc(true)),
      (12L, "entirely fresh content")).toDF("doc_id", "text")
    val first = flagsOf(BandIndex.ingest(spark, batch, name, path))
    assert(first === Map(10L -> "exact", 11L -> "near", 12L -> "kept"))
    // the kept doc is now IN the index (appended, not rebuilt): a
    // replay of the same batch finds 12 as an exact dup of itself;
    // the near dup was dropped, so it still classifies near
    val second = classify(batch, name)
    assert(second === Map(10L -> "exact", 11L -> "near", 12L -> "exact"))
    // and the docs table grew by exactly the kept slice
    assert(spark.table(BandIndex.docsTable(name)).count() === 3)
  }
}
