package graft

import org.apache.spark.sql.SparkSession

/** The one local-session shape every main starts from (SURVEY §7.3):
  * `local[cores]`, shuffle partitions sized to the cores, a UTC session
  * timezone and no UI. A caller's `conf` pairs apply last, so a main
  * keeps its non-default knobs (or its own `spark.master`) at its own
  * call site. Spark defaults such as `spark.sql.adaptive.enabled` are
  * not restated here; `LocalSessionSpec` asserts the one the exchange
  * pins depend on.
  */
object LocalSession {

  /** `SPARK_GRAFT_CPUS`, or every core the JVM sees when unset. */
  lazy val cores: Int = parseCores(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCores(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(s) =>
      val n = s.toIntOption
      require(n.exists(_ >= 1),
        s"SPARK_GRAFT_CPUS must be an integer >= 1, got '$s'")
      n.get
  }

  /** The session shape of the exchange pins (`tools/exchange_pins.tsv`):
    * shared by `AdvisorSweep --pins` and the test session. */
  val PinShape: Seq[(String, String)] =
    Seq("spark.master" -> "local[4]", "spark.sql.shuffle.partitions" -> "8")

  def apply(conf: (String, String)*): SparkSession = {
    val defaults = Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false")
    val spark = SparkSession.builder().config((defaults ++ conf).toMap).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
