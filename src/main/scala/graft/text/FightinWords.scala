package graft.text

import graft.{Q, Tables}
import graft.text.TextQueries.{lqSql, lqDuck}
import org.apache.spark.sql.functions._

/** "Fightin' words" — log-odds-ratio with an informative Dirichlet
  * prior (Monroe, Colaresi & Quinn 2008), the statistic of record for
  * "which tokens distinguish corpus A from corpus B": raw frequency
  * ratios explode on rare tokens, χ² over-weights common ones; the
  * prior-smoothed log-odds z-score is the calibrated middle. Applied
  * to the en-vs-de language split of the document corpus; the corpus-
  * wide counts serve as the Dirichlet prior (the paper's "informative"
  * choice), so rare-token variance is tamed by global evidence.
  *
  * δ_w = [L(y_Aw+α_w) − L(n_A+α₀−y_Aw−α_w)] − [same for B], carried
  * in the engine-shared quantized log2 ([[TextQueries.lqSql]], exact
  * longs — the q163/q105 stance: libm ln is not cross-engine stable,
  * the fixed-point log2 ladder is). The variance 1/(y_Aw+α_w) +
  * 1/(y_Bw+α_w) and the z-score are the mirrored IEEE epilogue on
  * exact integer counts. Sign convention: positive z ⇒ the token
  * leans A (= 'en').
  *
  * Scale shape: two map-side-combinable count aggregates (per-(lang,
  * token) and corpus-wide per-token prior), joined on the
  * vocabulary-bounded token frame; output is |V| rows. Nothing
  * corpus-sized survives the first aggregate; the 2⁶³ headroom on
  * the log2 ladder holds to ~10¹⁸ corpus tokens.
  */
object FightinWords {

  val LangA = "en"
  val LangB = "de"

  val q213 = Q(
    "q213_fightin_words",
    (s, dir) => {
      import s.implicits._
      val tok = graft.Barrier(Tables.load(s, dir, "documents")
        .filter($"lang".isin(LangA, LangB))
        .select($"lang", explode(split(coalesce($"text", lit("")), " "))
          .as("w"))
        .groupBy($"w")
        .agg(count_if($"lang" === LangA).as("ya"),
          count_if($"lang" === LangB).as("yb")))
      val tots = tok.agg(sum($"ya").as("na"), sum($"yb").as("nb"),
        sum($"ya" + $"yb").as("a0"))
      tok.withColumn("alpha", $"ya" + $"yb")
        .crossJoin(broadcast(tots))
        .select($"w", $"ya", $"yb",
          expr(s"${lqSql("ya + alpha")} - ${lqSql("na + a0 - ya - alpha")}" +
            s" - ${lqSql("yb + alpha")} + ${lqSql("nb + a0 - yb - alpha")}")
            .as("delta_log2q"),
          (lit(1.0) / ($"ya" + $"alpha").cast("double")
            + lit(1.0) / ($"yb" + $"alpha").cast("double")).as("variance"))
        .select($"w", $"ya", $"yb", $"delta_log2q",
          ($"delta_log2q".cast("double") / lit(1048576.0)
            / sqrt($"variance")).as("z_log2"))
        .orderBy($"z_log2".desc, $"w")
    },
    Some(s"""WITH tok AS (
      |  SELECT w,
      |         CAST(COUNT(CASE WHEN lang = '$LangA' THEN 1 END) AS BIGINT) AS ya,
      |         CAST(COUNT(CASE WHEN lang = '$LangB' THEN 1 END) AS BIGINT) AS yb
      |  FROM (SELECT lang, UNNEST(string_split(COALESCE(text, ''), ' ')) AS w
      |        FROM documents WHERE lang IN ('$LangA', '$LangB'))
      |  GROUP BY 1),
      |tots AS (
      |  SELECT CAST(SUM(ya) AS BIGINT) AS na, CAST(SUM(yb) AS BIGINT) AS nb,
      |         CAST(SUM(ya + yb) AS BIGINT) AS a0
      |  FROM tok),
      |scored AS (
      |  SELECT w, ya, yb,
      |         ${lqDuck("ya + (ya + yb)")}
      |           - ${lqDuck("na + a0 - ya - (ya + yb)")}
      |           - ${lqDuck("yb + (ya + yb)")}
      |           + ${lqDuck("nb + a0 - yb - (ya + yb)")} AS delta_log2q,
      |         1.0 / CAST(ya + (ya + yb) AS DOUBLE)
      |           + 1.0 / CAST(yb + (ya + yb) AS DOUBLE) AS variance
      |  FROM tok, tots)
      |SELECT w, ya, yb, CAST(delta_log2q AS BIGINT) AS delta_log2q,
      |       CAST(delta_log2q AS DOUBLE) / 1048576.0 / sqrt(variance)
      |         AS z_log2
      |FROM scored ORDER BY z_log2 DESC, w""".stripMargin),
    doc = s"text: Monroe et al. fightin'-words log-odds z per token ($LangA vs $LangB, informative Dirichlet prior, quantized-log2 ladder). " +
      "Fightin' words: two map-side-combinable count aggregates onto the vocabulary-bounded frame; prior totals ride a 1-row broadcast; quantized-log2 ladder keeps deltas exact longs — output |V| rows.")

  val all: Seq[Q] = Seq(q213)
}
