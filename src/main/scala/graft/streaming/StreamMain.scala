package graft.streaming

/** CLI runner for the Structured Streaming surveillance job: consumes
  * the events parquet directory as a file-source stream and writes
  * watermark-finalized hourly windows to parquet. Usage:
  * `runMain graft.streaming.StreamMain <srcDir> <outDir> <checkpointDir>`.
  * Runs with Trigger.AvailableNow (drain-then-stop backfill mode); a
  * production deployment would swap the trigger for a continuous one
  * and the source for Kafka — the transform is identical.
  */
object StreamMain {
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/tmp/graft-stream-src")
    val outDir = args.lift(1).getOrElse("/tmp/graft-stream-out")
    val ckDir = args.lift(2).getOrElse("/tmp/graft-stream-ck")
    val spark = graft.LocalSession()
    val q = EventStreamJob.runHourlyAgg(spark, srcDir, outDir, ckDir)
    q.awaitTermination()
    println(s"[stream] hourly aggregation drained to $outDir")
    spark.stop()
  }
}
