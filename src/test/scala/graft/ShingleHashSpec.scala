package graft

import graft.functions.Md5Prefix

/** Pins the md5-prefix key semantics (ADVICE r13) of
  * [[graft.functions.Md5Prefix]] — the one definition the shingle
  * spine, splits, samples and sketches all key on, and which the DuckDB
  * oracle mirrors as `CAST(('0x' || substr(md5(…), 1, N)) AS BIGINT)`.
  * The cross-engine equivalence is oracle-gated per round; what is NOT
  * otherwise gated is an ENGINE-VERSION drift in Spark's md5/conv hex
  * semantics — this spec pins Spark's value at every width in use
  * against an independent JDK MessageDigest + parseLong(hex)
  * computation, so a Spark upgrade that changes either function fails
  * loudly here instead of surfacing as a silent oracle mismatch 283
  * queries deep. It also guards that the key is spelled only once in
  * `src/main`.
  */
class ShingleHashSpec extends SparkSpec {

  private def jdkHash(s: String, hexChars: Int = 15): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, hexChars), 16)
  }

  private val shingles = Seq("a b c", "the quick brown", "x y z", "", "μ ν ξ")

  /** 15: the shingle spine and most keys; 10: q149's sampling cost;
    * 5: q164's bootstrap uniform.
    */
  private val widths = Seq(15, 10, 5)

  test("Spark's conv(substring(md5(s),1,15),16,10) matches the JDK reference") {
    import spark.implicits._
    val got = shingles.toDF("s")
      .selectExpr(Md5Prefix.sql("s"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == shingles.map(jdkHash(_)),
      "Spark md5/conv hex semantics drifted from the JDK reference — " +
        "the q51-spine shingle keys and their oracle CTEs no longer hash " +
        "identically; re-verify NgramPairsCtes before trusting the oracle")
  }

  test("Md5Prefix.sql matches the JDK reference at widths 15, 10 and 5, composite inputs included") {
    import spark.implicits._
    // the composite shapes the call sites hash: a salted key (q275's
    // concat('kmv|', …)) and a two-part key (q164's k#b)
    val rows = Seq((0L, 0, "a b c"), (7L, 3, "the quick brown"),
      (42L, 199, "x y z"), (-5L, 12, ""), (123456789L, 1, "μ ν ξ"))
    val df = rows.toDF("k", "b", "s")
    widths.foreach { w =>
      val got = df.selectExpr(
          Md5Prefix.sql("s", w),
          Md5Prefix.sql("concat('kmv|', cast(k as string))", w),
          Md5Prefix.sql("concat(cast(k as string), '#', cast(b as string))", w))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val want = rows.map { case (k, b, s) =>
        (jdkHash(s, w), jdkHash(s"kmv|$k", w), jdkHash(s"$k#$b", w))
      }
      assert(got == want, s"width $w: Spark $got != JDK $want")
    }
  }

  test("the 60-bit prefix fits a positive long (no sign-bit surprises)") {
    // 4·w bits: max value 2^(4w) - 1, always non-negative — the property
    // that makes the BIGINT cast identical in both engines. "x y z"
    // and "the quick brown" have the top bit of every width set.
    for (w <- widths; s <- shingles) {
      val h = jdkHash(s, w)
      assert(h >= 0L && h < (1L << (4 * w)), s"width $w, '$s': $h")
    }
  }

  test("Md5Prefix.sql rejects widths outside 1..15") {
    Seq(0, 16).foreach { w =>
      intercept[IllegalArgumentException](Md5Prefix.sql("s", w))
    }
  }

  test("the md5-prefix key is spelled only in functions/Md5Prefix.scala") {
    // Spark spelling only: the DuckDB oracle strings use substr(md5(
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(java.nio.file.Paths.get("functions", "Md5Prefix.scala")))
      .toSeq
    assert(files.size > 100, s"source walk found only ${files.size} files under $root")
    val hits = files.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("conv(substring(md5(") => s"$f:${i + 1}"
      }
    }
    assert(hits.isEmpty,
      s"inline md5-prefix keys — use graft.functions.Md5Prefix.sql: ${hits.mkString(", ")}")
  }
}
