package graft.etl

import graft.{SparkSpec, Tables}
import java.nio.file.{Files, Paths, Path => JPath}
import org.apache.hadoop.fs.Path
import scala.jdk.CollectionConverters._

/** [[FileCommit]], the one commit format of the file-level stores:
  * every crash state between the marker and the end of the redo heals
  * to the same files, superseded partitions leave no empty directory,
  * a replaced per-store marker is refused loudly, and no other code
  * moves files by rename.
  */
class FileCommitSpec extends SparkSpec {
  import spark.implicits._

  private def write(root: JPath, rel: String): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, rel.getBytes("UTF-8"))
  }

  /** Relative paths of every file and every directory under `root`. */
  private def tree(root: JPath): (Set[String], Set[String]) = {
    val all = Files.walk(root).iterator().asScala.filter(_ != root).toSeq
    def rel(ps: Seq[JPath]) = ps.map(root.relativize(_).toString).toSet
    (rel(all.filter(Files.isRegularFile(_))), rel(all.filter(Files.isDirectory(_))))
  }

  // a two-store layout (the retrain's shape) whose cell 4 loses every file
  private val Old = Seq("centroids/part-old", "postings/cell=1/part-old1",
    "postings/cell=4/part-old4")
  private val New = Seq("centroids/part-new", "postings/cell=1/part-new1",
    "postings/cell=2/part-new2")

  private def landed(): JPath = {
    val root = Files.createTempDirectory("fcommit")
    (Old :+ "postings/_SUCCESS").foreach(write(root, _))
    New.foreach(n => write(Paths.get(FileCommit.gen(root.toString)), n))
    FileCommit.land(spark, root.toString,
      Old.map(o => new Path(root.resolve(o).toString)))
    root
  }

  /** The moves a redo makes, done by hand for the given staged files. */
  private def moveIn(root: JPath, staged: Seq[String]): Unit = staged.foreach { n =>
    val tgt = root.resolve(n)
    Files.createDirectories(tgt.getParent)
    Files.move(Paths.get(FileCommit.gen(root.toString)).resolve(n), tgt)
  }

  private def assertHealed(root: JPath, state: String): Unit = {
    FileCommit.resume(spark, root.toString)
    val healed = tree(root)
    assert(healed._1 === (New :+ "postings/_SUCCESS").toSet, state)
    assert(healed._2 === Set("centroids", "postings", "postings/cell=1",
      "postings/cell=2"), s"$state: no .gen, no emptied cell dir")
    FileCommit.resume(spark, root.toString)
    assert(tree(root) === healed, s"$state: a second resume changes nothing")
  }

  test("a crash after k of n moves or k of m deletes heals to the same file set") {
    (0 to New.size).foreach { k =>
      val root = landed()
      moveIn(root, New.take(k))
      assertHealed(root, s"after $k of ${New.size} moves")
    }
    (0 to Old.size).foreach { k =>
      val root = landed()
      moveIn(root, New)
      Old.take(k).foreach(o => Files.delete(root.resolve(o)))
      assertHealed(root, s"after $k of ${Old.size} deletes")
    }
  }

  test("a retrain to fewer cells leaves no empty cell= directory") {
    val emb = Tables.load(spark, SparkSpec.Sf0001, "embeddings")
    val seeds = emb.filter($"vec_id" >= 8 && $"vec_id" < 12)
      .select($"vec_id".cast("int"), $"embedding")
      .as[(Int, Array[Float])].collect().toSeq
    val path = Files.createTempDirectory("fcommit-retrain").toString + "/idx"
    VectorIndex.build(spark, emb, path, seeds)
    VectorIndex.retrain(spark, path, k = 2, iters = 2)
    val cells = new java.io.File(s"$path/postings").listFiles()
      .filter(_.getName.startsWith("cell="))
    assert(cells.length <= 2, cells.map(_.getName).mkString(", "))
    cells.foreach(d => assert(d.listFiles().exists(_.getName.endsWith(".parquet")),
      s"empty cell dir $d"))
    assert(spark.read.parquet(s"$path/postings").count() === emb.count())
    assert(spark.read.parquet(s"$path/centroids").count() === 2L)
  }

  test("a legacy per-store marker makes resume throw, naming the file") {
    Seq(".compact_commit", ".retrain_commit", "_erase_staging/_delete_plan")
      .foreach { m =>
        val root = Files.createTempDirectory("fcommit-legacy")
        write(root, m)
        val e = intercept[IllegalStateException] {
          FileCommit.resume(spark, root.toString)
        }
        assert(e.getMessage.contains(root.resolve(m).toString), e.getMessage)
      }
  }

  test(".rename( is called only in FileCommit.scala and BandIndex's lease claim") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get("graft", "etl", "FileCommit.scala")))
      .toSeq
    assert(files.size > 100, s"source walk found only ${files.size} files under $root")
    val claim = Paths.get("graft", "etl", "BandIndex.scala")
    val hits = files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(".rename(") &&
            !(f.endsWith(claim) && line.contains("claim")) => s"$f:${i + 1}"
      }
    }
    assert(hits.isEmpty,
      s"hand-rolled file moves — commit through FileCommit: ${hits.mkString(", ")}")
  }
}
