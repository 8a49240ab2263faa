package graft

/** `Probe`'s plan receipts are the EXECUTED plan: the receipt's
  * top-level `AdaptiveSparkPlan` must read `isFinalPlan=true`. Running
  * the query through `count()` would execute a separate
  * QueryExecution and leave this one's plan tentative
  * (`isFinalPlan=false`).
  */
class ProbeSpec extends SparkSpec {

  test("a plan receipt shows the AQE-final plan of the executed query") {
    val txt = Probe.receipt(spark, "q01_readmission_rate", SparkSpec.Sf0001)
    val lines = txt.linesIterator.toSeq
    val top = lines.dropWhile(_ != "== Physical Plan ==").drop(1).head
    val id = """^AdaptiveSparkPlan \((\d+)\)$""".r.findFirstMatchIn(top)
      .map(_.group(1)).getOrElse(fail(s"top node is not AQE: $top"))
    val args = lines.dropWhile(_ != s"($id) AdaptiveSparkPlan")
      .find(_.startsWith("Arguments:"))
    assert(args.contains("Arguments: isFinalPlan=true"), txt)
  }
}
