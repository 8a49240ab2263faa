package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Isotonic (monotone nondecreasing) regression of mean order quantity
  * on the discount level — the shape-constrained companion to q221's
  * elasticity fit: elasticity assumes log-linearity; isotonic
  * regression assumes ONLY monotonicity ("more discount never lowers
  * demand") and lets the data place the steps. The weighted
  * least-squares monotone fit is the classic pool-adjacent-violators
  * solution (Ayer et al. 1955; Barlow et al. 1972).
  *
  * Algorithm: PAVA's stack is serial, but on the BOUNDED discount
  * domain (11 levels — the q201/q227 domain-collapse stance) the fit
  * has the closed minimax form fit_i = max_{j≤i} min_{k≥i} mean(y_j..k)
  * (Barlow et al. 1972, §1.2; Robertson-Wright-Dykstra eq. 1.4.4) —
  * two tiny nested aggregates over the 66 contiguous level ranges, no
  * recursion anywhere.
  *
  * Exactness: range means divide exact integer sums (quantities and
  * counts are longs) — one IEEE division per range, identical in both
  * engines; min/max over doubles are order-insensitive, so the
  * minimax needs no float accumulation at all.
  *
  * Scale shape: the corpus collapses map-side to 11 (level, count,
  * sum) cells; ranges, minimax, and the report are constant-size
  * epilogue frames. At 100 TB only the first aggregate touches data.
  */
object Isotonic {

  val q234 = Q(
    "q234_isotonic_pava",
    (s, dir) => {
      import s.implicits._
      val lv = graft.Barrier(Tables.load(s, dir, "lineitem")
        .groupBy(round($"l_discount" * 100).cast("int").as("lvl"))
        .agg(count(lit(1)).as("cnt"), sum($"l_quantity".cast("long")).as("sq")))
      val ranges = lv.as("a").join(lv.as("b"), $"a.lvl" <= $"b.lvl")
        .select($"a.lvl".as("j"), $"b.lvl".as("k"))
        .join(lv.as("c"), $"c.lvl" >= $"j" && $"c.lvl" <= $"k")
        .groupBy($"j", $"k")
        .agg((sum($"sq").cast("double") / sum($"cnt").cast("double")).as("m"))
      val fit = lv.select($"lvl")
        .join(ranges, $"j" <= $"lvl" && $"k" >= $"lvl")
        .groupBy($"lvl", $"j").agg(min($"m").as("mn"))
        .groupBy($"lvl").agg(max($"mn").as("iso_mean_qty"))
      lv.join(fit, "lvl")
        .select($"lvl".as("discount_pct"), $"cnt".as("n"),
          ($"sq".cast("double") / $"cnt".cast("double")).as("raw_mean_qty"),
          $"iso_mean_qty")
        .orderBy($"discount_pct")
    },
    Some("""WITH lv AS MATERIALIZED (
      |  SELECT CAST(round(l_discount * 100) AS INT) AS lvl, COUNT(*) AS cnt,
      |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
      |  FROM lineitem GROUP BY 1),
      |ranges AS (
      |  SELECT p.j, p.k,
      |         CAST(SUM(c.sq) AS DOUBLE) / CAST(SUM(c.cnt) AS DOUBLE) AS m
      |  FROM (SELECT a.lvl AS j, b.lvl AS k
      |        FROM lv a JOIN lv b ON a.lvl <= b.lvl) p
      |  JOIN lv c ON c.lvl >= p.j AND c.lvl <= p.k
      |  GROUP BY 1, 2),
      |fit AS (
      |  SELECT lvl, MAX(mn) AS iso_mean_qty FROM (
      |    SELECT i.lvl, r.j, MIN(r.m) AS mn
      |    FROM lv i JOIN ranges r ON r.j <= i.lvl AND r.k >= i.lvl
      |    GROUP BY 1, 2)
      |  GROUP BY 1)
      |SELECT lv.lvl AS discount_pct, lv.cnt AS n,
      |       CAST(lv.sq AS DOUBLE) / CAST(lv.cnt AS DOUBLE) AS raw_mean_qty,
      |       fit.iso_mean_qty
      |FROM lv JOIN fit ON fit.lvl = lv.lvl
      |ORDER BY discount_pct""".stripMargin),
    doc = "stats: isotonic (PAVA) monotone fit of mean quantity vs discount level via the closed minimax form on the 11-level domain — shape-constrained demand curve. " +
      "Isotonic: ONE corpus aggregate to the 11-level frame; the minimax fit (ranges, nested min/max) is a constant-size epilogue — 66 range rows, no recursion, no corpus rescans.")

  val all: Seq[Q] = Seq(q234)
}
