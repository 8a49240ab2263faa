package graft

/** Full-registry [[operators.ExplainAdvisor]] sweep (VERDICT r10 item
  * 5): run the advisor over EVERY registered query and write one JSON
  * artifact with, per query, the executed plan's exchange count +
  * shuffle records and every join/filter site's estimate-vs-actual —
  * the regression tripwire the advisor was built to be. Queries whose
  * plans expose no advisable site still report their shuffle context;
  * a query that fails reports its error rather than vanishing (a
  * partially-written sweep must not certify queries it never ran).
  *
  * Reading the join rows: `one_sided=true` means the CMS estimate
  * upper-bounds the matched-pair count of ONE execution of that
  * logical join. The `actual` column is the physical operator's
  * `numOutputRows` METRIC, which accumulates across executions — a
  * join subtree consumed twice without exchange reuse reports 2× its
  * single-execution output (the sweep's est<actual sites are exactly
  * such k× cases: q131 40-vs-80, q16 1000-vs-2000). Sites whose
  * metric cannot be attributed by key-name matching report
  * actual = -1 instead of a wrong compare.
  *
  * Two modes:
  *  - `runMain graft.AdvisorSweep <sfDir> <out.json>` — the committed
  *    artifact (ADVISOR_r{N}.json), advisor sketches included.
  *  - `runMain graft.AdvisorSweep <sfDir> --pins <out.tsv>` — cheap
  *    exchange-count-only sweep in the TEST session shape (local[4],
  *    8 shuffle partitions, sf0.001 recommended), writing the
  *    `name<TAB>exchanges` table `ExchangePinSpec` gates against.
  *    Regenerate after any DELIBERATE plan change:
  *    `sbt "runMain graft.AdvisorSweep /root/testdata/sf0.001 --pins tools/exchange_pins.tsv"`
  */
object AdvisorSweep {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // --pins is detected independently of arg count: `… <sfDir> --pins`
    // with the output path missing used to fall through to the expensive
    // full-artifact sweep and write JSON to a file named "--pins"
    // (ADVICE r11).
    val pinsMode = args.length > 1 && args(1) == "--pins"
    if (pinsMode && args.length < 3) {
      System.err.println(
        "usage: AdvisorSweep <sfDir> --pins <out.tsv>   (pins mode)\n" +
          "       AdvisorSweep <sfDir> [out.json]        (artifact sweep)")
      sys.exit(2)
    }
    val outPath =
      if (pinsMode) args(2)
      else if (args.length > 1) args(1)
      else "ADVISOR.json"
    // pins must be generated under the EXACT spec session shape so the
    // gate compares like with like; the artifact sweep uses the bench
    // shape instead
    val spark =
      if (pinsMode) LocalSession(LocalSession.PinShape: _*) else LocalSession()

    val names = SparkEntry.queries.keys.toSeq.sorted
    if (pinsMode) {
      val sb = new StringBuilder
      sb ++= "# Exchange-count pins: query<TAB>shuffle exchanges in the\n"
      sb ++= "# AQE-finalized plan at sf0.001, local[4], 8 shuffle\n"
      sb ++= s"# partitions (the ExchangePinSpec session shape). Source sf: $sfDir\n"
      sb ++= "# Regenerate after a DELIBERATE plan change:\n"
      sb ++= "#   sbt 'runMain graft.AdvisorSweep /root/testdata/sf0.001 --pins tools/exchange_pins.tsv'\n"
      names.foreach { name =>
        val n =
          try operators.ExplainAdvisor.exchangeStats(
            spark, sfDir, SparkEntry.queries(name))._1
          finally Barrier.release(spark)
        sb ++= s"$name\t$n\n"
        System.err.println(s"[pins] $name\t$n")
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
        sb.toString)
      println(s"wrote ${names.size} pins -> $outPath")
    } else {
      val rows = names.map { name =>
        val t0 = System.nanoTime()
        val body =
          try {
            val advice = operators.ExplainAdvisor.advise(
              spark, sfDir, SparkEntry.queries(name))
            val wall = (System.nanoTime() - t0) / 1e9
            val (nEx, recs) = advice.find(_.kind == "shuffle")
              .map(a => (a.site.takeWhile(_.isDigit).toInt, a.actual))
              .getOrElse((0, 0L))
            val sites = advice.filterNot(_.kind == "shuffle").map { a =>
              s"""{"kind":${JsonOut.jstr(a.kind)},"site":${JsonOut.jstr(a.site)},""" +
                s""""estimated":${a.estimated},"actual":${a.actual},""" +
                s""""err_ppm":${a.errPpm},"one_sided":${a.oneSided}}"""
            }.mkString("[", ",", "]")
            s""""exchanges":$nEx,"shuffle_records":$recs,""" +
              s""""wall_sec":${JsonOut.jnum(wall, 3)},"sites":$sites,"err":"""" + "\""
          } catch {
            case e: Throwable =>
              s""""exchanges":-1,"shuffle_records":-1,"wall_sec":-1,"sites":[],""" +
                s""""err":${JsonOut.jstr(e.toString.take(300))}"""
          } finally Barrier.release(spark)
        s"${JsonOut.jstr(name)}: {$body}"
      }
      // Self-contained artifact (VERDICT r13 item 8): the per-site
      // attribution exemptions ride IN the JSON, from the same source
      // of truth PLANS.md renders — a reader of ADVISOR_r*.json alone
      // can adjudicate every ungraded (actual = -1) site.
      val exemptions = operators.ExplainAdvisor.attributionExemptions
        .map { case (q, site, reason) =>
          s"""{"query":${JsonOut.jstr(q)},"site":${JsonOut.jstr(site)},""" +
            s""""reason":${JsonOut.jstr(reason)}}"""
        }.mkString("[", ",", "]")
      val json = s"""{"sf":${JsonOut.jstr(sfDir)},"n_queries":${names.size},""" +
        s""""exemptions":$exemptions,""" +
        s""""queries":{${rows.mkString(",")}}}"""
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
      println(s"wrote ${names.size} query advisories -> $outPath")
    }
    spark.stop()
  }
}
