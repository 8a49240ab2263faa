package graft.text

import graft.{Q, Tables}
import graft.text.TextQueries.{lqSql, lqDuck}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dunning's log-likelihood-ratio collocations (Dunning 1993) — the
  * G-test companion to q104's PMI: PMI over-promotes rare pairs (two
  * hapaxes adjacent once score the maximum), G² weighs the evidence —
  * it is the statistic the collocation literature actually
  * recommends for text counts. Each adjacent bigram gets the 2×2
  * table (bigram stream margins: first-word row, second-word column)
  * and G_q = 2·Σ_cells O·(L(O·N) − L(row·col)) in the engine-shared
  * quantized log2 ladder — exact longs, no libm ln, zero cells
  * contribute zero by continuity. Top-10 by evidence.
  *
  * Exactness ceiling (the q104 stance, runtime-guarded): the ladder
  * takes L(O·N) with O·N ≤ N², so N (bigram tokens) must stay under
  * 2⁶³ — ~3·10⁹ bigrams; past that [[graft.Q.ceilingGuard]] fails the
  * task with the named remedy (shift to L(O)+L(N) via the ladder's
  * additivity at a one-ulp cost, or shard the corpus).
  *
  * Scale shape: ONE bigram explode compresses map-side to
  * bigram-vocabulary counts; margins are two vocabulary-shaped
  * aggregates joined back on their keys (AQE-skew-splittable);
  * N rides a 1-row broadcast; top-10 via TakeOrdered.
  */
object GTest {

  val MinCount = 5
  val NCeiling = 3_000_000_000L

  /** One G-term: O·(L(O·num) − L(den)) with the zero-cell guard. */
  private def term(o: String, num: String, den: String): String =
    s"case when $o > 0 then $o * (${lqSql(s"$o * $num")} - ${lqSql(den)})" +
      s" else 0L end"

  private def termDuck(o: String, num: String, den: String): String =
    s"CASE WHEN $o > 0 THEN $o * (${lqDuck(s"$o * $num")} - ${lqDuck(den)})" +
      s" ELSE 0 END"

  val q225 = Q(
    "q225_gtest_collocations",
    (s, dir) => {
      import s.implicits._
      val toks = Tables.load(s, dir, "documents")
        .select(split(coalesce($"text", lit("")), " ").as("tk"))
        .filter(size($"tk") >= 2)
      val big = graft.Barrier(toks
        .select(explode(expr(
          """transform(sequence(1, size(tk) - 1),
            |  i -> struct(element_at(tk, i) as w1,
            |              element_at(tk, i + 1) as w2))""".stripMargin))
          .as("b"))
        .select($"b.w1", $"b.w2")
        .groupBy($"w1", $"w2").agg(count(lit(1)).as("o")))
      val r = big.groupBy($"w1").agg(sum($"o").as("r1"))
      val c = big.groupBy($"w2").agg(sum($"o").as("c1"))
      val n = big.agg(sum($"o").as("nb"))
        .select(graft.Q.ceilingGuard($"nb", NCeiling,
          "q225_gtest_collocations",
          "bigram token count N (O*N must fit int64 for the log2 ladder)",
          "split L(O*N) into L(O)+L(N) (one-ulp ladder additivity) or shard")
          .as("nb"))
      val cells = big.filter($"o" >= MinCount)
        .join(r, "w1").join(c, "w2")
        .crossJoin(broadcast(n))
        .withColumn("b", $"r1" - $"o")
        .withColumn("cc", $"c1" - $"o")
        .withColumn("d", $"nb" - $"r1" - $"c1" + $"o")
      val scored = cells.withColumn("g_log2q",
        expr(s"2 * ((${term("o", "nb", "r1 * c1")})" +
          s" + (${term("b", "nb", "r1 * (nb - c1)")})" +
          s" + (${term("cc", "nb", "(nb - r1) * c1")})" +
          s" + (${term("d", "nb", "(nb - r1) * (nb - c1)")}))"))
      scored.orderBy($"g_log2q".desc, $"w1", $"w2").limit(10)
        .withColumn("rank", row_number()
          .over(Window.orderBy($"g_log2q".desc, $"w1", $"w2")))
        .select($"rank", $"w1", $"w2", $"o".as("c_ab"), $"g_log2q")
        .orderBy($"rank")
    },
    Some(s"""WITH tok AS (
      |  SELECT string_split(COALESCE(text, ''), ' ') AS t FROM documents),
      |big AS MATERIALIZED (
      |  SELECT w1, w2, COUNT(*) AS o FROM (
      |    SELECT t[i] AS w1, t[i + 1] AS w2
      |    FROM (SELECT t, UNNEST(generate_series(1, len(t) - 1)) AS i
      |          FROM tok WHERE len(t) >= 2))
      |  GROUP BY 1, 2),
      |r AS (SELECT w1, CAST(SUM(o) AS BIGINT) AS r1 FROM big GROUP BY 1),
      |c AS (SELECT w2, CAST(SUM(o) AS BIGINT) AS c1 FROM big GROUP BY 1),
      |n AS (SELECT CAST(SUM(o) AS BIGINT) AS nb FROM big),
      |cells AS (
      |  SELECT b.w1, b.w2, b.o, r.r1, c.c1, n.nb,
      |         r.r1 - b.o AS b, c.c1 - b.o AS cc,
      |         n.nb - r.r1 - c.c1 + b.o AS d
      |  FROM big b JOIN r USING (w1) JOIN c USING (w2), n
      |  WHERE b.o >= $MinCount),
      |scored AS (
      |  SELECT w1, w2, o,
      |         2 * ((${termDuck("o", "nb", "r1 * c1")})
      |            + (${termDuck("b", "nb", "r1 * (nb - c1)")})
      |            + (${termDuck("cc", "nb", "(nb - r1) * c1")})
      |            + (${termDuck("d", "nb", "(nb - r1) * (nb - c1)")}))
      |           AS g_log2q
      |  FROM cells)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY g_log2q DESC, w1, w2) AS INT)
      |         AS rank,
      |       w1, w2, o AS c_ab, CAST(g_log2q AS BIGINT) AS g_log2q
      |FROM scored ORDER BY g_log2q DESC, w1, w2 LIMIT 10""".stripMargin),
    doc = "text: Dunning G-test collocations — top-10 adjacent bigrams by log-likelihood-ratio evidence (quantized-log2 ladder, bigram-stream margins, zero-cell-safe). " +
      "G-test: one bigram explode compressed map-side to bigram-vocabulary counts; margins are two vocabulary-shaped joins (AQE-skew-splittable); quantized-log2 G with a runtime ceilingGuard on N; top-10 TakeOrdered.")

  val all: Seq[Q] = Seq(q225)
}
