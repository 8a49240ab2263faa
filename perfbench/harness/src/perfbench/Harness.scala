package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one process, one closed-loop client.
  *
  *   Harness --workload W --seed N --seconds S --trace 0|1
  *           --work DIR --out FILE [--queries q1,q2,...]
  *
  * Sets up `SetupRepeats` times (session start plus input staging),
  * then runs whole passes over the workload until `S` seconds are
  * spent, at least one. The first pass is the first execution of every
  * operation in this JVM, as a job started with spark-submit meets it;
  * with `S` shorter than a pass, a run measures exactly that one pass.
  * Every operation writes its output, and every output is kept for the
  * checks. With `--trace 1` the [[Tracer]] is attached for the timed
  * passes. Everything goes to `--out` as JSON; `run.py` checks the
  * outputs and reports.
  */
object Harness {
  val SetupRepeats = 3
  val Cores = 4

  /** E1 patients before the seeded jitter; the upsert run adds a tenth. */
  val E1Patients = 2000L
  val CurationDocs = 200
  val CrawlFiles = 2

  final case class Op(name: String, pass: Int, latencyS: Double, cpuS: Double,
                      error: Option[String])

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of the whole JVM: driver, task, JIT and GC threads. */
  def processCpuS: Double = os.getProcessCpuTime / 1e9

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val work = Paths.get(a("work")).toAbsolutePath.toString
    val stampStart = stamp()

    val setupS, setupCpuS = ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (_ <- 0 until SetupRepeats) {
      if (spark != null) spark.stop()
      val c0 = processCpuS
      val t0 = System.nanoTime()
      spark = session(work)
      workload match {
        case "etl_write" => stageCrawl(spark, s"$work/crawl", seed, CurationDocs)
        case _ => stageTables(spark, s"$work/data", seed)
      }
      setupS += (System.nanoTime() - t0) / 1e9
      setupCpuS += processCpuS - c0
    }
    resetHeapPeaks()

    val tracer = if (a("trace") == "1") Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    val run = workload match {
      case "etl_write" => new EtlRun(spark, work, seed, tracer)
      case _ => new QueryRun(spark, work, a("queries").split(",").toSeq, tracer)
    }
    val ops = ArrayBuffer[Op]()
    val t0 = System.nanoTime()
    var passes = 0
    while (passes == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      ops ++= run.pass(passes)
      passes += 1
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val layers = tracer.map { t =>
      t.detach()
      run.layers(t, passes) + ("jvm.heap_peak_mb" -> heapPeakMb)
    }
    val stampEnd = stamp()
    spark.stop()

    val out = Map(
      "workload" -> workload, "seed" -> seed, "passes" -> passes,
      "setup_s" -> setupS, "setup_cpu_s" -> setupCpuS, "timed_s" -> timedS,
      "stamp" -> Map("start" -> stampStart, "end" -> stampEnd),
      "ops" -> ops.map(o => Map("name" -> o.name, "pass" -> o.pass,
        "latency_s" -> o.latencyS, "cpu_s" -> o.cpuS, "error" -> o.error)),
      "layers" -> layers,
      "checks" -> run.checkInputs)
    Files.writeString(Paths.get(a("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(out))
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    spark
  }

  /** The query inputs. */
  def stageTables(spark: SparkSession, dir: String, seed: Long): Unit =
    DataGen.tables(seed).foreach { case (name, rows) =>
      DataGen.write(spark, s"$dir/$name.parquet", name, rows)
    }

  /** The curation crawl: seeded documents in seeded crawl files. */
  def stageCrawl(spark: SparkSession, dir: String, seed: Long, docs: Int): Unit = {
    val rows = DataGen.documentRows(seed, docs)
    val rnd = new Random(seed)
    val fileOf = rows.map(_ => rnd.nextInt(CrawlFiles))
    val crawl = Paths.get(dir)
    deleteTree(crawl)
    Files.createDirectories(crawl)
    for (f <- 0 until CrawlFiles) {
      val staging = s"$dir-staging/file$f.parquet"
      DataGen.write(spark, staging, "documents", rows.indices.filter(fileOf(_) == f).map(rows).toArray)
      // the stream must see each crawl file whole, so files move in
      // only after they are written
      Files.list(Paths.get(staging)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(p => Files.move(p, crawl.resolve(s"file$f.parquet")))
    }
    deleteTree(Paths.get(s"$dir-staging"))
  }

  def stamp(): Map[String, Any] = Map(
    "loadavg" -> scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .trim.split("\\s+").take(3).map(_.toDouble).toSeq).getOrElse(Seq.empty[Double]),
    "cores" -> Runtime.getRuntime.availableProcessors,
    "xmx_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "java" -> System.getProperty("java.version"),
    "epoch_ms" -> System.currentTimeMillis())

  private def heapPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  def parquetFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toSeq

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(p * s.size - 1e-9).toInt - 1))
  }
}

/** One workload: timed passes, then per-layer sums from the tracer. */
trait WorkloadRun {
  protected def tracer: Option[Tracer]

  def pass(n: Int): Seq[Harness.Op]
  def layers(t: Tracer, passes: Int): Map[String, Double]
  def checkInputs: Map[String, Any]

  /** Times one operation. Traced, it is a root span, and the listener
    * bus is drained after the clock stops.
    */
  protected def timed(name: String, pass: Int)(f: => Unit): (Harness.Op, Option[Span]) = {
    val root = tracer.map(_.open("op"))
    val c0 = Harness.processCpuS
    val t0 = System.nanoTime()
    val err = try { f; None } catch {
      case e: Throwable => Some(e.toString.take(400))
    }
    val op = Harness.Op(name, pass, (System.nanoTime() - t0) / 1e9, Harness.processCpuS - c0, err)
    tracer.foreach { t => t.close(root.get); t.drain() }
    (op, root)
  }

  protected def span[A](layer: String)(f: => A): A = tracer.fold(f)(_.span(layer)(f))

  /** Sums over the spans of all operations, per pass. */
  protected def execLayers(t: Tracer, passes: Int): Map[String, Double] = {
    val per = passes.toDouble
    val spans = t.allSpans
    val cs = spans.map(s => t.countsOf(s.id))
    def sum(f: Counts => Long): Double = cs.map(f).sum.toDouble / per
    val opWall = t.roots.map(_.wallS).sum / per
    val planS = sum(_.planMs) / 1000
    val jobWallS = sum(_.jobWallMs) / 1000
    Map(
      "exec.jobs" -> sum(_.jobs), "exec.stages" -> sum(_.stages),
      "exec.tasks" -> sum(_.tasks),
      "exec.job_wall_s" -> jobWallS,
      "exec.scheduler_delay_s" -> sum(_.schedulerDelayMs) / 1000,
      "exec.executor_cpu_s" -> sum(_.cpuNs) / 1e9,
      "exec.executor_run_s" -> sum(_.runMs) / 1000,
      "exec.gc_s" -> sum(_.gcMs) / 1000,
      "exec.shuffle_read_bytes" -> sum(_.shuffleReadBytes),
      "exec.shuffle_write_bytes" -> sum(_.shuffleWriteBytes),
      "exec.spill_bytes" -> sum(_.spillBytes),
      "catalyst.plan_s" -> planS,
      "trace.op_wall_s" -> opWall,
      "trace.gap_s" -> (opWall - planS - jobWallS)) ++
      spans.groupBy(_.layer).map { case (l, ss) => s"self.${l}_s" -> ss.map(_.selfS).sum / per }
  }
}

/** `olap`: registered queries in list order, each built through
  * `Q.build` and fully materialized into a parquet sink, the output
  * `graft.Verify` also writes. The order is fixed, not seeded: in a cold
  * JVM the first query to use a code path pays for loading it, and a
  * fixed order keeps that cost on the same queries in every run.
  */
final class QueryRun(spark: SparkSession, work: String,
                     names: Seq[String], val tracer: Option[Tracer]) extends WorkloadRun {
  private val data = s"$work/data"
  private val registry = graft.SparkEntry.registry.map(q => q.name -> q).toMap
  private val opFamily = scala.collection.mutable.Map[Long, String]()

  private def family(name: String): String =
    registry.get(name).map(_.build.getClass.getName.split('.')(1)).getOrElse("missing")

  def pass(n: Int): Seq[Harness.Op] =
    names.map { name =>
      graft.Barrier.release(spark)
      spark.catalog.clearCache()
      val (op, root) = timed(name, n) {
        val q = registry.getOrElse(name,
          throw new NoSuchElementException(s"$name is not registered"))
        val df = span("registry.build")(q.build(spark, data))
        span("materialize")(df.write.mode("overwrite").parquet(s"$work/results/$name/p$n"))
      }
      root.foreach(r => opFamily(r.id) = family(name))
      op
    }

  def layers(t: Tracer, passes: Int): Map[String, Double] = {
    val per = passes.toDouble
    val build = t.allSpans.filter(_.layer == "registry.build")
    val families = Seq("operators", "streaming", "functions", "security", "multimodal",
      "etl", "text", "similarity", "graph")
    execLayers(t, passes) ++ Map(
      "registry.build_s" -> build.map(_.wallS).sum / per,
      "registry.build_jobs" -> build.map(s => t.countsOf(s.id).jobs).sum / per) ++
      families.map(f => s"$f.wall_s" ->
        t.roots.filter(r => opFamily.get(r.id).contains(f)).map(_.wallS).sum / per)
  }

  def checkInputs: Map[String, Any] = Map(
    "data" -> data, "results" -> s"$work/results",
    "oracle_sql" -> names.flatMap(n => registry.get(n).flatMap(_.oracle).map(n -> _)).toMap)
}

/** `etl_write`, one pass per iteration: E1 into a fresh warehouse, E1
  * again over it as an upsert, curation over the staged crawl, then
  * index compaction. Each of the four calls is one operation.
  */
final class EtlRun(spark: SparkSession, work: String, seed: Long,
                   val tracer: Option[Tracer]) extends WorkloadRun {
  import Harness._

  private val patients = E1Patients + new Random(seed).nextInt(200)
  private val upsertPatients = patients + patients / 10
  private val iterations = ArrayBuffer[Map[String, Any]]()
  private val stepOf = scala.collection.mutable.Map[Long, String]()
  private var e1Bytes = 0L
  /** Data files before and after the last compaction, and bytes it wrote. */
  private var compactStats = (0L, 0L, 0L)

  def pass(n: Int): Seq[Op] = {
    val dir = s"$work/etl/it$n"
    val index = s"perfbench_idx_$n"
    def step(layer: String)(f: => Unit): Op = {
      val (op, root) = timed(layer, n)(span(layer)(f))
      root.foreach(r => stepOf(r.id) = layer)
      op
    }
    val e1 = step("etl.pipeline")(graft.etl.Pipeline.run(spark, s"$dir/e1", patients))
    // untimed: keep the overwrite load's output for its check, since
    // the upsert rewrites the same directory
    copyTree(Paths.get(s"$dir/e1"), Paths.get(s"$dir/e1_load"))
    e1Bytes = parquetFiles(Paths.get(s"$dir/e1_load")).map(Files.size).sum
    val up = step("etl.pipeline_upsert")(
      graft.etl.Pipeline.run(spark, s"$dir/e1", upsertPatients))
    var report: Option[graft.etl.CurationPipeline.CurationReport] = None
    val cur = step("curation") {
      report = Some(graft.etl.CurationPipeline.run(spark, s"$work/crawl", index,
        s"$dir/index", s"$dir/curation"))
    }
    val tables = Seq(graft.etl.BandIndex.docsTable(index),
      graft.etl.BandIndex.bandsTable(index), graft.etl.BandIndex.toksTable(index))
    def rows(): Seq[Long] =
      if (report.isEmpty) Nil
      else tables.map { t => spark.catalog.refreshTable(t); spark.table(t).count() }
    val before = rows()
    val filesBefore = parquetFiles(Paths.get(s"$dir/index")).toSet
    val cmp = step("bandindex.compact")(graft.etl.BandIndex.compact(spark, index, s"$dir/index"))
    val filesAfter = parquetFiles(Paths.get(s"$dir/index")).toSet
    compactStats = (filesBefore.size.toLong, filesAfter.size.toLong,
      (filesAfter -- filesBefore).toSeq.map(Files.size).sum)
    iterations += Map(
      "dir" -> dir, "patients" -> patients, "upsert_patients" -> upsertPatients,
      "curation" -> report.map(r => Map(
        "kept" -> r.kept, "selected" -> r.selected, "selected_tokens" -> r.selectedTokens,
        "token_budget" -> r.tokenBudget, "manifest" -> r.manifestPath,
        "corpus" -> s"$dir/curation/corpus")),
      "index_rows_before_compact" -> before, "index_rows_after_compact" -> rows())
    Seq(e1, up, cur, cmp)
  }

  private def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }

  def layers(t: Tracer, passes: Int): Map[String, Double] = {
    val per = passes.toDouble
    val roots = t.roots.toSeq
    def wall(layer: String) = roots.filter(r => stepOf(r.id) == layer).map(_.wallS).sum / per
    val curations = roots.filter(r => stepOf(r.id) == "curation")
    val batches = curations.flatMap(c => t.batchesOf(c.id))
    def ms(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Long =
      p.durationMs.asScala.get(k).fold(0L)(_.toLong)
    // the ingest phase of a curation call ends with its last micro-batch;
    // the rest of the call is select, pack and the manifest write
    val ingestS = curations.map { c =>
      val ends = t.batchesOf(c.id).map(p =>
        java.time.Instant.parse(p.timestamp).toEpochMilli + ms(p, "triggerExecution"))
      (ends.maxOption.getOrElse(c.startMs) - c.startMs) / 1000.0
    }.sum / per
    val batchS = batches.map(ms(_, "triggerExecution") / 1000.0)
    val curationS = wall("curation")
    val (filesBefore, filesAfter, rewritten) = compactStats
    execLayers(t, passes) ++ Map(
      "etl.pipeline.wall_s" -> wall("etl.pipeline"),
      "etl.pipeline_upsert.wall_s" -> wall("etl.pipeline_upsert"),
      "etl.e1_rows_per_s" -> 16.0 * patients / wall("etl.pipeline"),
      "etl.e1_upsert_rows_per_s" -> 16.0 * upsertPatients / wall("etl.pipeline_upsert"),
      "etl.bytes_written_per_row" -> e1Bytes.toDouble / (16 * patients),
      "curation.wall_s" -> curationS,
      "curation.docs_per_s" -> CurationDocs / curationS,
      "curation.post_ingest_s" -> (curationS - ingestS),
      "streaming.ingest_s" -> ingestS,
      "streaming.batches" -> batches.size / per,
      "streaming.ingest_batch_p50_s" -> median(batchS),
      "streaming.ingest_batch_p90_s" -> percentile(batchS, 0.9),
      "streaming.addBatch_ms" -> batches.map(ms(_, "addBatch")).sum / per,
      "streaming.queryPlanning_ms" -> batches.map(ms(_, "queryPlanning")).sum / per,
      "streaming.walCommit_ms" -> batches.map(ms(_, "walCommit")).sum / per,
      "bandindex.compact_s" -> wall("bandindex.compact"),
      "bandindex.data_files_before_compact" -> filesBefore.toDouble,
      "bandindex.data_files_after_compact" -> filesAfter.toDouble,
      "bandindex.compact_bytes_rewritten" -> rewritten.toDouble)
  }

  def checkInputs: Map[String, Any] = Map(
    "iterations" -> iterations.toSeq, "crawl" -> s"$work/crawl")
}
