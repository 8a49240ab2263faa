package graft.etl

/** CLI entry point mirroring the reference's `main()` orchestrator
  * (healthcare-data-pipeline-main.py:673-705): run the full E1 pipeline
  * — generate → transform → load → analyze → report — against a local
  * session. Usage: `runMain graft.etl.PipelineMain <outDir> [nPatients]`.
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft-pipeline")
    val nPatients = args.lift(1).map(_.toLong).getOrElse(1000L)
    val spark = graft.LocalSession()
    val r = Pipeline.run(spark, outDir, nPatients)
    println(s"[pipeline] patients=${r.patients} encounters=${r.encounters} " +
      s"labs=${r.labs} quality=${r.quality.overall} report=${r.reportPath}")
    if (r.quality.overall < QualityScore.MinQualityThreshold)
      System.err.println(s"[pipeline] WARNING: quality ${r.quality.overall} " +
        s"below threshold ${QualityScore.MinQualityThreshold}")
    spark.stop()
  }
}
