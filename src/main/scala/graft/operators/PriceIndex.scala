package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Classical price indexes — Laspeyres, Paasche, and Fisher's ideal
  * (the geometric mean of the two) — of the traded part basket, each
  * year against the 1995 base: the CPI construction (ILO CPI manual
  * ch. 15) on the engine's own fact table. Laspeyres freezes the BASE
  * year's basket (overstates inflation when buyers substitute away),
  * Paasche freezes the CURRENT basket (understates it), Fisher
  * splits the difference — reporting all three brackets the truth.
  *
  * Per (part, year): unit price p = exact extended-price cents /
  * exact quantity centi-units, both decimal-summed longs, divided
  * once in IEEE. Matched-sample indexes over parts present in BOTH
  * years:
  *   L = Σ p_t·q₀ / Σ p₀·q₀    P = Σ p_t·q_t / Σ p₀·q_t
  *   F = √(L·P)
  *
  * Exactness: every sum of double TERMS is an ordered LEFT-FOLD by
  * partkey (the q222 discipline — windowed/grouped double sums
  * associate differently across engines); the four folds share one
  * sorted struct array. sqrt is IEEE-exact (correctly rounded by the
  * standard), unlike pow/exp which never enter.
  *
  * Scale shape: lineitem collapses map-side to (part, year) cells —
  * the only corpus-sized shuffle; the base⋈year matched join, the
  * per-year fold arrays (|parts| structs), and the 6-row report are
  * dimension-sized. At 100 TB the cell frame is ~|parts|×|years|.
  */
object PriceIndex {

  val BaseYear = 1995

  val q251 = Q(
    "q251_price_index",
    (s, dir) => {
      import s.implicits._
      val cells = graft.Barrier(Tables.load(s, dir, "lineitem")
        .groupBy($"l_partkey".as("pk"),
          year(to_date($"l_shipdate")).as("yr"))
        .agg(sum(expr("cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)"))
          .as("e_cents"),
          sum(expr("cast(cast(l_quantity as decimal(18,2)) * 100 as bigint)"))
            .as("q_cu"))
        .select($"pk", $"yr",
          ($"e_cents".cast("double") / $"q_cu".cast("double")).as("p"),
          $"q_cu"))
      val base = cells.filter($"yr" === BaseYear)
        .select($"pk", $"p".as("p0"), $"q_cu".as("q0"))
      cells.filter($"yr" =!= BaseYear)
        .join(base, Seq("pk"))
        .select($"yr", $"pk",
          ($"p" * $"q0".cast("double")).as("ptq0"),
          ($"p0" * $"q0".cast("double")).as("p0q0"),
          ($"p" * $"q_cu".cast("double")).as("ptqt"),
          ($"p0" * $"q_cu".cast("double")).as("p0qt"))
        .groupBy($"yr".as("year"))
        .agg(count(lit(1)).as("n_parts"),
          sort_array(collect_list(struct($"pk", $"ptq0", $"p0q0", $"ptqt", $"p0qt")))
            .as("ser"))
        .select($"year", $"n_parts",
          expr("aggregate(ser, 0D, (a, x) -> a + x.ptq0)").as("s_ptq0"),
          expr("aggregate(ser, 0D, (a, x) -> a + x.p0q0)").as("s_p0q0"),
          expr("aggregate(ser, 0D, (a, x) -> a + x.ptqt)").as("s_ptqt"),
          expr("aggregate(ser, 0D, (a, x) -> a + x.p0qt)").as("s_p0qt"))
        .select($"year", $"n_parts",
          ($"s_ptq0" / $"s_p0q0").as("laspeyres"),
          ($"s_ptqt" / $"s_p0qt").as("paasche"),
          sqrt(($"s_ptq0" / $"s_p0q0") * ($"s_ptqt" / $"s_p0qt")).as("fisher"))
        .orderBy($"year")
    },
    Some(s"""WITH cells AS MATERIALIZED (
      |  SELECT l_partkey AS pk, year(CAST(l_shipdate AS DATE)) AS yr,
      |         CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS DOUBLE)
      |           / CAST(CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS DOUBLE) AS p,
      |         CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS q_cu
      |  FROM lineitem GROUP BY 1, 2),
      |matched AS (
      |  SELECT t.yr, t.pk,
      |         t.p * CAST(b.q_cu AS DOUBLE) AS ptq0,
      |         b.p * CAST(b.q_cu AS DOUBLE) AS p0q0,
      |         t.p * CAST(t.q_cu AS DOUBLE) AS ptqt,
      |         b.p * CAST(t.q_cu AS DOUBLE) AS p0qt
      |  FROM cells t JOIN cells b ON b.pk = t.pk AND b.yr = $BaseYear
      |  WHERE t.yr <> $BaseYear),
      |folded AS (
      |  SELECT yr AS year, COUNT(*) AS n_parts,
      |         list_reduce(list(ptq0 ORDER BY pk), (a, b) -> a + b) AS s_ptq0,
      |         list_reduce(list(p0q0 ORDER BY pk), (a, b) -> a + b) AS s_p0q0,
      |         list_reduce(list(ptqt ORDER BY pk), (a, b) -> a + b) AS s_ptqt,
      |         list_reduce(list(p0qt ORDER BY pk), (a, b) -> a + b) AS s_p0qt
      |  FROM matched GROUP BY 1)
      |SELECT year, n_parts,
      |       s_ptq0 / s_p0q0 AS laspeyres,
      |       s_ptqt / s_p0qt AS paasche,
      |       SQRT((s_ptq0 / s_p0q0) * (s_ptqt / s_p0qt)) AS fisher
      |FROM folded ORDER BY year""".stripMargin),
    doc = "economics: Laspeyres/Paasche/Fisher matched-part price indexes per ship year vs the 1995 base — exact cent/centi-unit cells, ordered-fold double sums, one IEEE sqrt. " +
      "PriceIndex: ONE corpus shuffle to (part, year) cells behind a Barrier; base-vs-year matched join and the four ordered folds run on dimension-sized frames; 6 rows out.")

  val all: Seq[Q] = Seq(q251)
}
