package graft.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one crash-safe commit format of the file-level stores
  * ([[Lineage.compact]], [[Erasure.eraseFromManifest]],
  * [[VectorIndex.retrain]]): the stand-in, built from files, for the
  * transaction a warehouse load gets from its RDBMS.
  *
  * A store writes its new files under `<root>/.gen/<rel>` (a dot-dir,
  * so the parquet reader never lists it), verifies them, and then:
  *   1. [[land]] writes `<root>/.commit` atomically (tmp + rename),
  *      listing the live data files the staged ones supersede — the
  *      COMMIT POINT;
  *   2. [[redo]] moves every staged file to `<root>/<rel>`, deletes
  *      exactly the listed files and the directories that left empty,
  *      then clears the marker and `.gen`.
  * Files move in before any delete, so a crash never leaves rows
  * missing; until the redo finishes a reader may see both copies
  * (maintenance is offline: the store's lease keeps writers out).
  * [[resume]], run under that lease before any new work, rolls a
  * landed commit forward and discards an unlanded `.gen` — a stale
  * snapshot that appends may have overtaken since.
  */
object FileCommit {

  private val GenName = ".gen"
  private val MarkerName = ".commit"
  /** Markers of the per-store protocols this format replaced. */
  private val LegacyMarkers =
    Seq(".compact_commit", ".retrain_commit", "_erase_staging/_delete_plan")

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def visible(p: Path): Boolean =
    !p.getName.startsWith("_") && !p.getName.startsWith(".")

  /** The staging directory a store writes its new files under. */
  def gen(root: String): String = new Path(root, GenName).toString

  /** Data files under `dir`, through its visible subdirectories
    * (no `_SUCCESS`, `.crc`, lease or commit files).
    */
  def dataFiles(fs: FileSystem, dir: Path): Seq[Path] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(st => visible(st.getPath)).flatMap { st =>
      if (st.isDirectory) dataFiles(fs, st.getPath) else Seq(st.getPath)
    }

  /** The commit point: record `doomed` (the live data files the staged
    * generation supersedes) in the marker, atomically.
    */
  def land(spark: SparkSession, root: String, doomed: Seq[Path]): Unit = {
    val marker = new Path(root, MarkerName)
    val fs = fsOf(spark, marker)
    // landing over an unfinished commit would lose its delete list
    require(!fs.exists(marker), s"unfinished commit at $marker — resume it first")
    val tmp = new Path(root, MarkerName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(doomed.map(_.toUri.toString).mkString("", "\n", "\n")
      .getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(tmp, marker), s"could not land commit marker $marker")
  }

  /** Finish a landed commit; a no-op without a marker. Every step is
    * idempotent, so a crashed redo is finished by running it again.
    */
  def redo(spark: SparkSession, root: String): Unit = {
    val r = new Path(root)
    val fs = fsOf(spark, r)
    val rq = fs.makeQualified(r)
    val marker = new Path(r, MarkerName)
    if (!fs.exists(marker)) return
    val g = new Path(r, GenName)
    // a file already at its target moved in an earlier redo (part
    // names carry job UUIDs, so a live file never has a staged name)
    def moveIn(from: Path, to: Path): Unit =
      fs.listStatus(from).filter(st => visible(st.getPath)).foreach { st =>
        val tgt = new Path(to, st.getPath.getName)
        if (st.isDirectory) moveIn(st.getPath, tgt)
        else if (!fs.exists(tgt)) {
          fs.mkdirs(to)
          require(fs.rename(st.getPath, tgt),
            s"file commit at $root: cannot move ${st.getPath} to $tgt")
        }
      }
    if (fs.exists(g)) moveIn(g, r)
    val in = fs.open(marker)
    val doomed =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map(s => new Path(new java.net.URI(s))).toList
      finally in.close()
    doomed.foreach(fs.delete(_, false))
    // a partition dir whose every file was superseded goes too: left
    // behind empty, it would still cost every listing of the store
    def prune(d: Path): Unit =
      if (d != null && d.toString.startsWith(rq.toString + "/") &&
          fs.exists(d) && fs.listStatus(d).isEmpty) {
        fs.delete(d, false)
        prune(d.getParent)
      }
    doomed.map(p => fs.makeQualified(p).getParent).distinct.foreach(prune)
    fs.delete(marker, false)
    fs.delete(g, true)
    ()
  }

  /** Heal `root` before new maintenance: redo a landed commit, discard
    * an unlanded `.gen`. A marker of a replaced per-store protocol
    * fails loudly — this format cannot replay it, and ignoring it
    * would resurrect or duplicate rows.
    */
  def resume(spark: SparkSession, root: String): Unit = {
    val r = new Path(root)
    val fs = fsOf(spark, r)
    LegacyMarkers.map(new Path(r, _)).find(fs.exists).foreach { p =>
      throw new IllegalStateException(
        s"legacy commit marker $p: a crashed maintenance run of an older " +
          "release left it — finish that run with the release that wrote " +
          "it before running maintenance here")
    }
    if (fs.exists(new Path(r, MarkerName))) redo(spark, root)
    else fs.delete(new Path(r, GenName), true)
    ()
  }

  /** Replace the `hit` partitions (values of `partCol`) of the parquet
    * store at `dir` with `survivors` by dynamic partition overwrite,
    * then delete each hit partition's directory that got no survivor:
    * dynamic overwrite only replaces partitions present in the written
    * data, so an emptied one would keep its files. `survivors` must be
    * materialized — the write replaces the files it was read from.
    */
  def overwritePartitions(survivors: DataFrame, dir: String, partCol: String,
                          hit: Iterable[Any]): Unit = {
    val surviving = survivors.select(partCol).distinct().collect()
      .map(_.get(0)).toSet[Any]
    survivors.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(dir)
    val root = new Path(dir)
    val fs = fsOf(survivors.sparkSession, root)
    (hit.toSet -- surviving).foreach { v =>
      fs.delete(new Path(root, s"$partCol=$v"), true)
    }
  }
}
