package graft

/** The shared session shape ([[LocalSession]]): the pin shape the test
  * session runs in, the Spark default the exchange pins depend on, the
  * `SPARK_GRAFT_CPUS` parse, and that no main builds a session by hand.
  */
class LocalSessionSpec extends SparkSpec {

  test("the shared session is local[4], 8 partitions, UTC, no UI, AQE on") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    // a fresh session reads the built confs, not another suite's overrides
    val conf = spark.newSession().conf
    assert(conf.get("spark.sql.shuffle.partitions") == "8")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    // not set by LocalSession: the exchange pins assume Spark's AQE default
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("cores: unset means every core, malformed or < 1 fails naming the variable") {
    assert(LocalSession.parseCores(None) == Runtime.getRuntime.availableProcessors)
    assert(LocalSession.parseCores(Some("3")) == 3)
    Seq("0", "x").foreach { raw =>
      val e = intercept[IllegalArgumentException](LocalSession.parseCores(Some(raw)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("SparkSession.builder() is called only in LocalSession.scala") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(java.nio.file.Paths.get("graft", "LocalSession.scala")))
      .toSeq
    assert(files.size > 100, s"source walk found only ${files.size} files under $root")
    val hits = files.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("SparkSession.builder()") => s"$f:${i + 1}"
      }
    }
    assert(hits.isEmpty,
      s"hand-built sessions — use graft.LocalSession: ${hits.mkString(", ")}")
  }
}
