package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** [[Barrier]] — the materialization device behind the corpus-scale
  * cache barriers (q96/q97/q98-style token and gram frames) and the
  * iterative cuts. The barrier is a performance device, never a
  * semantic one: both modes (default local blocks, and fault-tolerant
  * checkpoints with `spark.graft.checkpointDir` set) must produce
  * identical results.
  */
class BarrierSpec extends SparkSpec {

  /** Run `body` in checkpoint-dir mode over a fresh temp dir; then
    * restore the checkpoint-dir conf and the SparkContext checkpoint
    * dir, which leak into the shared-session suite otherwise, and
    * delete the checkpoint files.
    */
  private def withCheckpointDir(body: java.io.File => Unit): Unit = {
    val prevConf = spark.conf.getOption(Barrier.CheckpointDirKey)
    val prevScDir = spark.sparkContext.getCheckpointDir
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    try {
      spark.sparkContext.setCheckpointDir(null) // force re-wiring from conf
      spark.conf.set(Barrier.CheckpointDirKey, dir.toString)
      body(dir.toFile)
    } finally {
      prevConf match {
        case Some(v) => spark.conf.set(Barrier.CheckpointDirKey, v)
        case None => spark.conf.unset(Barrier.CheckpointDirKey)
      }
      spark.sparkContext.setCheckpointDir(prevScDir.orNull)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).toSeq.flatten.foreach(rm); f.delete(): Unit
      }
      rm(dir.toFile)
    }
  }

  test("barrier storage strategy does not change results") {
    // the two heaviest barrier users: gram semi-join + edge/label reuse
    val names = Seq("q96_dupgram_coverage", "q98_leakproof_split")
    def runAll(): Seq[Seq[Seq[Any]]] =
      try names.map(n =>
        SparkEntry.queries(n)(spark, SparkSpec.Sf0001)
          .collect().map(_.toSeq).toSeq)
      finally {
        Barrier.release(spark)
        spark.catalog.clearCache()
      }
    val base = runAll()
    withCheckpointDir { _ =>
      assert(runAll() === base, "checkpoint-dir mode diverged")
    }
  }

  test("RELIABLE_CHECKPOINT cut writes fault-tolerant checkpoint files") {
    import spark.implicits._
    withCheckpointDir { dir =>
      val df = Barrier.cut(Seq(1, 2, 3).toDF("x")
        .withColumn("y", $"x" * 2))
      assert(df.collect().map(_.getInt(1)).sorted.toSeq == Seq(2, 4, 6))
      // the plan was cut to a scan of the checkpointed RDD…
      assert(df.queryExecution.analyzed.collectLeaves().size == 1)
      // …whose blocks live in the REAL checkpoint dir, not executor
      // memory: reliable-checkpoint files exist under the conf'd path
      def files(p: java.io.File): Seq[java.io.File] =
        Option(p.listFiles).toSeq.flatten
          .flatMap(f => if (f.isDirectory) files(f) else Seq(f))
      assert(files(dir).nonEmpty, "no checkpoint files written")
    }
  }

  test("RELIABLE_CHECKPOINT chain rotates old rounds' checkpoint files") {
    import spark.implicits._
    withCheckpointDir { dir =>
      // setCheckpointDir nests a per-context UUID dir — search the tree
      def rddDirs: Seq[java.io.File] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          Option(f.listFiles).toSeq.flatten.filter(_.isDirectory)
            .flatMap(d => d +: walk(d))
        walk(dir).filter(_.getName.startsWith("rdd-"))
      }
      val rounds = Barrier.chain()
      var df = Seq(1, 2, 3).toDF("x")
      (1 to 5).foreach { _ => df = rounds.cut(df.withColumn("x", $"x" + 1)) }
      // 5 rounds leave only the newest CutCheckpointsKept rdd-N dirs…
      assert(rddDirs.size === Barrier.CutCheckpointsKept,
        s"checkpoint dir grew O(rounds): ${rddDirs.map(_.getName)}")
      // …and the surviving newest round is still readable
      assert(df.collect().map(_.getInt(0)).sorted.toSeq === Seq(6, 7, 8))
      // release (between-queries contract) deletes the rest
      Barrier.release(spark)
      assert(rddDirs.isEmpty, "release left cut checkpoints behind")
    }
  }

  test("release unpersists registered barriers") {
    import spark.implicits._
    def frame = Seq(1, 2, 3).toDF("x")
    // what cut and freeze register: the persisted RDDs under the frame
    def persisted(df: DataFrame): Seq[RDD[_]] = {
      def walk(r: RDD[_]): Seq[RDD[_]] =
        if (r.getStorageLevel != StorageLevel.NONE) Seq(r)
        else r.dependencies.flatMap(d => walk(d.rdd))
      walk(df.queryExecution.toRdd)
    }
    val barrier = Barrier(frame)
    val cut = Barrier.cut(frame)
    val frozen = Barrier.freeze(frame)
    val rdd = spark.sparkContext.parallelize(1 to 3).persist()
    Barrier.registerRdd(spark, rdd)
    Seq(barrier, cut, frozen).foreach(df => assert(df.count() === 3))
    val rdds = rdd +: (persisted(cut) ++ persisted(frozen))
    assert(barrier.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(rdds.size === 3 && rdds.forall(_.getStorageLevel != StorageLevel.NONE))
    Barrier.release(spark)
    // unpersist(blocking = false) is async on blocks but the level
    // flips immediately
    assert(barrier.storageLevel === StorageLevel.NONE)
    rdds.foreach(r => assert(r.getStorageLevel === StorageLevel.NONE))
  }
}
