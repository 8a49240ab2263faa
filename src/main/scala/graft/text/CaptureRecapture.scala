package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Capture-recapture corpus-size estimation (Chapman 1951, the
  * bias-corrected Lincoln-Petersen estimator) — "how many distinct
  * documents exist in the wild, given two overlapping crawls?": treat
  * sources src0–src9 as capture one and src10–src19 as capture two,
  * match documents by exact text hash, and estimate the true distinct
  * population N̂ = (n₁+1)(n₂+1)/(m+1) − 1 from the overlap m. Because
  * the testdata IS the full population, the estimator is reported
  * NEXT TO the true distinct count — the same audit stance as q212:
  * certify the estimator where truth is computable, then trust it
  * where it isn't (estimating un-crawled corpus mass is a real
  * curation question).
  *
  * Exactness: capture sets are distinct md5-prefix text hashes (the
  * engine-wide hashing stance); n₁, n₂, m, the Chapman estimate
  * ((n₁+1)(n₂+1) div (m+1) − 1, positive operands ⇒ div ≡ //), and
  * the truth are all exact integers; the coverage ratio is one
  * mirrored IEEE division.
  *
  * Scale shape: one map-side-combinable distinct-hash aggregate per
  * capture (hashes shuffle, never text); the overlap is one equi-join
  * on the hash; the report is 1 row. Products reach n₁n₂ ≈ 10²⁰ at
  * 100 TB — decimal(38,0)/HUGEINT for the estimate.
  */
object CaptureRecapture {

  val q224 = Q(
    "q224_capture_recapture",
    (s, dir) => {
      import s.implicits._
      val d = graft.Barrier(Tables.load(s, dir, "documents")
        .select(expr(graft.functions.Md5Prefix.sql("coalesce(text, '')")).as("h"),
          ($"source".rlike("^src[0-9]$")).as("cap1"))
        .groupBy($"h")
        .agg(max($"cap1").as("in1"), max(!$"cap1").as("in2")))
      d.agg(
          count_if($"in1").as("n1"),
          count_if($"in2").as("n2"),
          count_if($"in1" && $"in2").as("m"),
          count(lit(1)).as("true_distinct"))
        .select($"n1", $"n2", $"m", $"true_distinct",
          expr("cast((cast(n1 + 1 as decimal(38,0)) * (n2 + 1))" +
            " div (m + 1) - 1 as bigint)").as("n_hat"))
        .select($"n1", $"n2", $"m", $"true_distinct", $"n_hat",
          ($"n_hat".cast("double") / $"true_distinct".cast("double"))
            .as("est_over_truth"))
    },
    Some("""WITH d AS (
      |  SELECT CAST(('0x' || substr(md5(COALESCE(text, '')), 1, 15))
      |              AS BIGINT) AS h,
      |         MAX(regexp_matches(source, '^src[0-9]$')) AS in1,
      |         MAX(NOT regexp_matches(source, '^src[0-9]$')) AS in2
      |  FROM documents GROUP BY 1),
      |agg AS (
      |  SELECT CAST(COUNT(CASE WHEN in1 THEN 1 END) AS BIGINT) AS n1,
      |         CAST(COUNT(CASE WHEN in2 THEN 1 END) AS BIGINT) AS n2,
      |         CAST(COUNT(CASE WHEN in1 AND in2 THEN 1 END) AS BIGINT) AS m,
      |         COUNT(*) AS true_distinct
      |  FROM d)
      |SELECT n1, n2, m, true_distinct,
      |       CAST(CAST(n1 + 1 AS HUGEINT) * (n2 + 1) // (m + 1) - 1
      |            AS BIGINT) AS n_hat,
      |       CAST(CAST(CAST(n1 + 1 AS HUGEINT) * (n2 + 1) // (m + 1) - 1
      |                 AS BIGINT) AS DOUBLE)
      |         / CAST(true_distinct AS DOUBLE) AS est_over_truth
      |FROM agg""".stripMargin),
    doc = "text: Chapman capture-recapture estimate of the distinct-document population from two source captures, audited against the computable truth. " +
      "Capture-recapture: one distinct-hash aggregate per capture (hashes shuffle, never text), overlap via the same groupBy, 1-row report; Chapman estimate in decimal/HUGEINT.")

  val all: Seq[Q] = Seq(q224)
}
