package graft.etl

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Round-9 stretch receipts (VERDICT r8 item 8): [[Lineage.compact]]
  * folds an append-only ledger's file sprawl back down under the
  * BandIndex maintenance-lease protocol, provably lookup-unchanged,
  * crash-resumable from the commit marker, and append-fenced while
  * the lease is held.
  */
class LineageCompactionSpec extends SparkSpec {
  import spark.implicits._

  private def ids(dir: String) =
    spark.read.parquet(dir)
      .select($"doc_id", $"stage", $"verdict", $"detail", $"round")
      .as[(Long, String, String, String, Long)].collect().toSeq.sorted

  private def fileCount(dir: String, bucket: Long): Int = {
    val d = new java.io.File(s"$dir/doc_bucket=$bucket")
    if (!d.exists()) 0
    else d.listFiles().count(f => f.isFile &&
      !f.getName.startsWith("_") && !f.getName.startsWith("."))
  }

  private def seedLedger(ldir: String, appends: Int): Unit = {
    (1 to appends).foreach { r =>
      val docs = Seq.tabulate(8)(i => (i.toLong, s"s${i % 2}"))
        .toDF("doc_id", "source")
      Lineage.record(spark, ldir, docs, "rules",
        if (r % 2 == 0) "kept" else "dropped",
        concat(lit("round-"), lit(r)), r.toLong)
    }
  }

  test("compact folds pressed buckets to one file with identical content") {
    val ldir = Files.createTempDirectory("lin-compact").resolve("l").toString
    seedLedger(ldir, 6) // 6 appends → ≥6 files per touched bucket
    val before = ids(ldir)
    val beforeAudit = Lineage.audit(spark, ldir).collect().toSeq.toString
    val beforeExplain = Lineage.explain(spark, ldir, 5L).collect().toSeq.toString
    assert(fileCount(ldir, 5L) >= 6)

    assert(Lineage.compact(spark, ldir, maxFilesPerBucket = 2))

    assert(fileCount(ldir, 5L) === 1, "bucket should fold to one file")
    assert(ids(ldir) === before, "compaction must be content-identical")
    assert(Lineage.audit(spark, ldir).collect().toSeq.toString === beforeAudit)
    assert(Lineage.explain(spark, ldir, 5L).collect().toSeq.toString
      === beforeExplain)
    // protocol scratch is gone and the lease is released
    assert(!new java.io.File(s"$ldir/.gen").exists())
    assert(!new java.io.File(s"$ldir/.commit").exists())
    assert(BandIndex.readLease(spark, ldir).isEmpty)
    // idempotent second pass: nothing is pressed anymore
    assert(!Lineage.compact(spark, ldir, maxFilesPerBucket = 2))
    // the ledger still accepts appends afterwards
    Lineage.record(spark, ldir,
      Seq((5L, "s1")).toDF("doc_id", "source"),
      "erasure", "erased", lit("post-compact"), 9L)
    assert(ids(ldir).size === before.size + 1)
  }

  test("a record that lands between snapshot and rewrite is not duplicated") {
    // ADVICE r9 (medium): a record() that passed its check-time
    // assertNoMaintenance guard just before the lease landed can commit
    // files after compact's file listing. The fix pins the rewrite to
    // the exact listed files, so delete-list == rewrite-source: the
    // straggler's rows must survive exactly once (left live, untouched),
    // never folded into .gen AND kept.
    val ldir = Files.createTempDirectory("lin-race").resolve("l").toString
    seedLedger(ldir, 4)
    val before = ids(ldir)
    val fence = BandIndex.acquireLease(spark, ldir, "lineage_compact", 60000L)
    var stragglerLanded = false
    assert(Lineage.compactUnderLease(spark, ldir, maxFilesPerBucket = 2, fence,
      afterListing = () => {
        // simulate the guard-raced record: same row shape record()
        // writes, landed directly (its guard check happened pre-lease)
        Seq((5L, "s1", "rules", "kept", "straggler", 99L, 5L))
          .toDF("doc_id", "source", "stage", "verdict", "detail",
            "round", "doc_bucket")
          .write.mode("append").partitionBy("doc_bucket").parquet(ldir)
        stragglerLanded = true
      }))
    BandIndex.releaseLease(spark, ldir, fence)
    assert(stragglerLanded)
    val after = ids(ldir)
    assert(after.size === before.size + 1,
      s"straggler must survive exactly once: ${after.size} vs ${before.size}+1")
    assert(after.count(_._4 == "straggler") === 1,
      "the raced record's row must appear exactly once, not duplicated")
    assert(after.filterNot(_._4 == "straggler") === before,
      "all pre-compaction rows content-identical")
    // the straggler's file is still live (it was never in the delete
    // list), so a follow-up compaction folds it in cleanly
    assert(fileCount(ldir, 5L) === 2) // compacted file + straggler file
    assert(Lineage.compact(spark, ldir, maxFilesPerBucket = 1))
    assert(ids(ldir) === after)
    assert(fileCount(ldir, 5L) === 1)
  }

  test("record fails fast while the maintenance lease is held, resumes after") {
    val ldir = Files.createTempDirectory("lin-lease").resolve("l").toString
    seedLedger(ldir, 2)
    val fence = BandIndex.acquireLease(spark, ldir, "lineage_compact", 60000L)
    val e = intercept[BandIndex.ConcurrentMaintenanceException] {
      Lineage.record(spark, ldir,
        Seq((1L, "s1")).toDF("doc_id", "source"),
        "rules", "kept", lit("x"), 3L)
    }
    assert(e.getMessage.contains("lineage_compact"))
    BandIndex.releaseLease(spark, ldir, fence)
    Lineage.record(spark, ldir,
      Seq((1L, "s1")).toDF("doc_id", "source"),
      "rules", "kept", lit("x"), 3L)
  }

  test("a crash AFTER the commit marker is healed forward by the next compact") {
    val ldir = Files.createTempDirectory("lin-crash").resolve("l").toString
    seedLedger(ldir, 5)
    val before = ids(ldir)

    // the exact post-marker crash state: a complete .gen for bucket 5
    // plus a landed marker listing that bucket's old files — i.e. a
    // death at the first instruction of FileCommit.redo.
    val bucketDir = new java.io.File(s"$ldir/doc_bucket=5")
    val oldFiles = bucketDir.listFiles().filter(f => f.isFile &&
      !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => new org.apache.hadoop.fs.Path(f.getAbsolutePath)).toSeq
    spark.read.option("basePath", ldir).parquet(bucketDir.toString)
      .repartition(col("doc_bucket"))
      .write.partitionBy("doc_bucket").parquet(FileCommit.gen(ldir))
    FileCommit.land(spark, ldir, oldFiles)

    // next compact heals forward (marker present → redo, not discard),
    // then proceeds with its own no-op probe
    Lineage.compact(spark, ldir, maxFilesPerBucket = 100)
    assert(ids(ldir) === before, "healed ledger must be content-identical")
    assert(fileCount(ldir, 5L) === 1, "healed bucket is the compacted file")
    assert(!new java.io.File(s"$ldir/.gen").exists())
    assert(!new java.io.File(s"$ldir/.commit").exists())
  }

  test("a crash BEFORE the marker discards the stale .gen snapshot") {
    val ldir = Files.createTempDirectory("lin-stale").resolve("l").toString
    seedLedger(ldir, 3)
    val before = ids(ldir)
    // pre-marker crash state: a .gen exists, no marker — and since the
    // crash the lease lapsed and an append landed, so promoting the
    // snapshot would LOSE that append; the protocol must discard it.
    spark.read.option("basePath", ldir).parquet(s"$ldir/doc_bucket=5")
      .repartition(col("doc_bucket"))
      .write.partitionBy("doc_bucket").parquet(FileCommit.gen(ldir))
    Lineage.record(spark, ldir,
      Seq((5L, "s1")).toDF("doc_id", "source"),
      "select", "selected", lit("late append"), 8L)

    Lineage.compact(spark, ldir, maxFilesPerBucket = 100) // no-op probe path
    assert(!new java.io.File(s"$ldir/.gen").exists(), ".gen discarded")
    assert(ids(ldir).size === before.size + 1, "late append survives")
    // and a REAL compact afterwards still yields identical content
    val now = ids(ldir)
    Lineage.compact(spark, ldir, maxFilesPerBucket = 1)
    assert(ids(ldir) === now)
  }
}
