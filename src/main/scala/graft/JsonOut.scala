package graft

/** Shared JSON string emission for the artifact-writing mains
  * (ClusterCheck, SkewCheck, StreamSoak, StreamKillCheck, and Verify's
  * oracle_sql.json) — each had grown its own two-replace copy, which left control
  * characters (a newline inside an exception message) and
  * locale-dependent number formatting (`f"$x%.1f"` renders "12,3" on
  * comma-decimal JVMs) able to corrupt an artifact. One helper, fixed
  * behavior, every escape the JSON grammar requires.
  */
object JsonOut {

  /** `s` as a JSON string literal: quotes, backslashes, and all
    * control characters escaped.
    */
  def jstr(s: String): String = {
    val sb = new StringBuilder(s.length + 2)
    sb += '"'
    s.foreach {
      case '"'  => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case '\r' => sb ++= "\\r"
      case '\t' => sb ++= "\\t"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  /** `v` as a JSON number with `digits` decimals, locale-fixed
    * (Locale.ROOT: always a '.' decimal point).
    */
  def jnum(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  /** Write `json` plus a newline to `path` (UTF-8) and echo it to stdout. */
  def writeArtifact(path: String, json: String): Unit = {
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
  }
}
