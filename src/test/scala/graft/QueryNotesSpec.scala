package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every registry query carries its one note on [[Q.doc]] (what it
  * covers, then how it scales), and PLANS.md, which `graft.Probe plans`
  * generates from those notes, has not drifted from them. No Spark
  * session: the registry is read, not run.
  */
class QueryNotesSpec extends AnyFunSuite {

  test("every query note is substantive (not a placeholder one-liner)") {
    val thin = SparkEntry.registry.collect {
      case q if q.doc.trim.length < 40 => q.name
    }
    assert(thin.isEmpty, s"thin notes: ${thin.sorted.mkString(", ")}")
  }

  /** PLANS.md's `## q…` sections, name → the note between the heading
    * and the plan's code fence. */
  private def planNotes: Map[String, String] = {
    val src = scala.io.Source.fromFile("PLANS.md", "UTF-8")
    val text = try src.mkString finally src.close()
    text.split("\n## ").toSeq.tail.collect {
      case sec if sec.startsWith("q") =>
        val lines = sec.linesIterator.toSeq
        lines.head.trim -> lines.tail.takeWhile(!_.startsWith("```")).mkString("\n").trim
    }.toMap
  }

  test("PLANS.md has one section per registry query, under its Q.doc note") {
    val notes = planNotes
    val names = SparkEntry.registry.map(_.name).toSet
    assert(notes.keySet == names,
      s"missing: ${(names -- notes.keySet).toSeq.sorted}; " +
        s"stale: ${(notes.keySet -- names).toSeq.sorted} (regenerate with graft.Probe plans)")
    val drifted = SparkEntry.registry.collect {
      case q if notes(q.name) != q.doc => q.name
    }
    assert(drifted.isEmpty,
      s"PLANS.md notes differ from Q.doc: ${drifted.sorted.mkString(", ")} " +
        "(regenerate with graft.Probe plans)")
  }
}
