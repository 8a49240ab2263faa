package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[Erasure]] — end-to-end takedown: the erased docs vanish from the
  * partitioned corpus sink (only affected partitions rewritten; a
  * fully-emptied partition's directory is deleted) and from the band
  * index (their text classifies as kept again).
  */
class ErasureSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(batch: Long, rows: (Long, String)*): DataFrame =
    rows.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("crawl"))
      .withColumn("n_chars", length($"text").cast("long"))
      .withColumn("ingest_batch", lit(batch))
      .select("doc_id", "text", "lang", "source", "n_chars", "ingest_batch")

  test("erase rewrites only affected partitions and cleanses the index") {
    val name = "ers_idx"
    Seq(BandIndex.docsTable(name), BandIndex.bandsTable(name),
        BandIndex.toksTable(name))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    val root = java.nio.file.Files.createTempDirectory("graft-erase")
    val corpusDir = root.resolve("corpus").toString

    val all = Seq(
      docsDf(0L, 1L -> "alpha beta gamma delta", 2L -> "sensitive takedown text"),
      docsDf(1L, 3L -> "untouched partition words", 4L -> "more stable content"),
      docsDf(2L, 5L -> "whole batch to erase"))
    all.foreach(_.write.mode("append")
      .partitionBy("ingest_batch").parquet(corpusDir))
    BandIndex.create(spark,
      all.reduce(_ unionByName _).drop("ingest_batch"),
      name, root.resolve("idx").toString, buckets = 4)

    def partFiles(b: Long): Set[String] = {
      val d = new java.io.File(s"$corpusDir/ingest_batch=$b")
      if (!d.exists()) Set.empty
      else d.listFiles().map(_.getName).filterNot(_.startsWith("_")).toSet
    }
    val untouchedBefore = partFiles(1L)

    val report = Erasure.erase(spark, corpusDir, name,
      root.resolve("idx").toString, Seq(2L, 5L).toDF("doc_id"), buckets = 4)
    assert(report.corpusRowsErased === 2)
    assert(report.indexRewriteRan)

    // corpus: doc 2 gone from partition 0, partition 2 deleted outright,
    // partition 1 byte-untouched (same file set)
    val left = spark.read.schema(
        graft.Tables.schemas("documents").add("ingest_batch", "long"))
      .parquet(corpusDir)
    assert(left.select($"doc_id").as[Long].collect().toSet === Set(1L, 3L, 4L))
    assert(!new java.io.File(s"$corpusDir/ingest_batch=2").exists())
    assert(partFiles(1L) === untouchedBefore)

    // index: the erased texts classify as kept again; others still hit
    val flags = BandIndex.dedupBatch(spark, Seq(
        (20L, "sensitive takedown text"),
        (21L, "whole batch to erase"),
        (22L, "untouched partition words")).toDF("doc_id", "text"), name)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(flags === Map(20L -> "kept", 21L -> "kept", 22L -> "exact"))

    // idempotent: nothing left to erase anywhere, and the report says so
    val rerun = Erasure.erase(spark, corpusDir, name,
      root.resolve("idx").toString, Seq(2L, 5L).toDF("doc_id"), buckets = 4)
    assert(rerun === Erasure.EraseReport(0L, 0L, indexRewriteRan = false))
    // success released the maintenance lease both times
    assert(BandIndex.readLease(spark, root.resolve("idx").toString).isEmpty)
  }

  private def md5Of(f: java.io.File): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(java.nio.file.Files.readAllBytes(f.toPath))
      .map("%02x".format(_)).mkString

  private def dataFiles(dir: String): Map[String, String] =
    new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
      .map(f => f.getName -> md5Of(f)).toMap

  test("manifest erase rewrites only the files holding erased rows") {
    val root = java.nio.file.Files.createTempDirectory("graft-mf")
    val mdir = root.resolve("manifest").toString
    // two physically separate files, written one append at a time
    Seq((1L, "web", 10L), (2L, "books", 20L))
      .toDF("doc_id", "source", "n_tokens")
      .coalesce(1).write.mode("append").parquet(mdir)
    Seq((3L, "web", 30L), (4L, "books", 40L))
      .toDF("doc_id", "source", "n_tokens")
      .coalesce(1).write.mode("append").parquet(mdir)
    val before = dataFiles(mdir)
    // which physical file holds the doomed row
    val doomedFile = before.keys.find { f =>
      spark.read.parquet(s"$mdir/$f").filter($"doc_id" === 2L).count() > 0
    }.get

    assert(Erasure.eraseFromManifest(spark, mdir, Seq(2L).toDF("doc_id")) === 1)

    assert(spark.read.parquet(mdir).select($"doc_id").as[Long].collect().toSet
      === Set(1L, 3L, 4L))
    val after = dataFiles(mdir)
    // the hit file was replaced; every other file is byte-identical
    assert(!after.contains(doomedFile))
    (before - doomedFile).foreach { case (f, h) =>
      assert(after.get(f).contains(h), s"untouched file $f changed")
    }
    // no staging residue, and a rerun is a free no-op
    assert(!new java.io.File(s"$mdir/.gen").exists())
    assert(!new java.io.File(s"$mdir/.commit").exists())
    assert(Erasure.eraseFromManifest(spark, mdir, Seq(2L).toDF("doc_id")) === 0)
  }

  test("a planned-but-uncommitted manifest erase is resumed before the next one") {
    // the crash window AFTER the commit marker landed: survivors are
    // staged, nothing is moved or deleted yet. Any later erase must
    // first finish that commit (move staged in, delete listed files)
    // or rows erased by the crashed run would resurrect.
    val root = java.nio.file.Files.createTempDirectory("graft-mfres")
    val mdir = root.resolve("manifest").toString
    Seq((1L, "web", 10L), (2L, "books", 20L))
      .toDF("doc_id", "source", "n_tokens")
      .coalesce(1).write.mode("append").parquet(mdir)
    Seq((3L, "web", 30L))
      .toDF("doc_id", "source", "n_tokens")
      .coalesce(1).write.mode("append").parquet(mdir)
    val f12 = dataFiles(mdir).keys.find { f =>
      spark.read.parquet(s"$mdir/$f").filter($"doc_id" === 2L).count() > 0
    }.get
    // the crashed state: survivors of the doc-2 file staged, the
    // marker naming that file landed, no moves or deletes done
    Seq((1L, "web", 10L)).toDF("doc_id", "source", "n_tokens")
      .coalesce(1).write.parquet(FileCommit.gen(mdir))
    FileCommit.land(spark, mdir, Seq(new org.apache.hadoop.fs.Path(s"$mdir/$f12")))

    // an unrelated erase resumes the crashed commit first, then runs
    assert(Erasure.eraseFromManifest(spark, mdir, Seq(3L).toDF("doc_id")) === 1)
    assert(spark.read.parquet(mdir).select($"doc_id").as[Long].collect().toSet
      === Set(1L))
    assert(!new java.io.File(s"$mdir/.gen").exists())
    assert(!new java.io.File(s"$mdir/.commit").exists())
  }
}
