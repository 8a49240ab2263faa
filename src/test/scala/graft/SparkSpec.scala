package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM: Spark startup
  * dominates suite time otherwise. The exchange-pin shape
  * ([[LocalSession.PinShape]]: local[4], 8 shuffle partitions), so
  * `ExchangePinSpec` compares against pins generated the same way.
  */
object SparkSpec {
  lazy val spark: SparkSession = LocalSession(LocalSession.PinShape: _*)

  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
}

trait SparkSpec extends AnyFunSuite {
  // lazy val (not def): a stable identifier, so `import spark.implicits._`
  // works at class level in suites.
  lazy val spark: SparkSession = SparkSpec.spark
}
