package graft

/** Machine gate for the PLANS.md plan pins (VERDICT r10 item 5): every
  * registered query's shuffle-exchange count at sf0.001 must not GROW
  * past the value recorded in tools/exchange_pins.tsv. A lost
  * broadcast, a de-fused aggregate, or a join that silently picks up
  * an extra shuffle still passes the value oracle — only a plan
  * assertion catches it, and prose annotations don't fail builds.
  *
  * The pin is an UPPER bound: fewer exchanges than pinned is an
  * improvement (reported so the pins get regenerated, not a failure).
  * Counts come from [[operators.ExplainAdvisor.exchangeStats]] — the
  * same helper that generates the pins — under the same session shape
  * (one definition, [[LocalSession.PinShape]]: local[4], 8 shuffle
  * partitions, read by both SparkSpec and `AdvisorSweep --pins`), so
  * generator and gate cannot drift. Regenerate after a DELIBERATE plan change:
  * `sbt "runMain graft.AdvisorSweep /root/testdata/sf0.001 --pins tools/exchange_pins.tsv"`
  */
class ExchangePinSpec extends SparkSpec {

  private lazy val pins: Map[String, Int] =
    scala.io.Source.fromFile("tools/exchange_pins.tsv").getLines()
      .filterNot(l => l.startsWith("#") || l.isBlank)
      .map { l => val Array(n, c) = l.split("\t"); n -> c.toInt }
      .toMap

  test("pins cover the full registry (new queries must be pinned)") {
    val missing = SparkEntry.queries.keySet -- pins.keySet
    assert(missing.isEmpty,
      s"unpinned queries (regenerate tools/exchange_pins.tsv): " +
        missing.toSeq.sorted.mkString(", "))
    val stale = pins.keySet -- SparkEntry.queries.keySet
    assert(stale.isEmpty,
      s"pins for unregistered queries: ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("no query's exchange count grew past its pin at sf0.001") {
    val grew = scala.collection.mutable.ArrayBuffer[String]()
    val shrank = scala.collection.mutable.ArrayBuffer[String]()
    pins.toSeq.sortBy(_._1).foreach { case (name, pin) =>
      val n =
        try operators.ExplainAdvisor.exchangeStats(
          spark, SparkSpec.Sf0001, SparkEntry.queries(name))._1
        finally Barrier.release(spark)
      if (n > pin) grew += s"$name: $n > pin $pin"
      else if (n < pin) shrank += s"$name: $n < pin $pin"
    }
    // improvements are informational — stale pins should be refreshed,
    // but a better plan must never fail the build
    if (shrank.nonEmpty)
      info(s"exchange count SHRANK (regenerate pins): ${shrank.mkString("; ")}")
    assert(grew.isEmpty,
      s"exchange count GREW (plan regression): ${grew.mkString("; ")}")
  }
}
