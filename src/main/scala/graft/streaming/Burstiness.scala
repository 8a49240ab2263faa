package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Inter-arrival burstiness per event type (Goh & Barabási 2008):
  * B = (σ−μ)/(σ+μ) over per-user inter-arrival gaps — B ≈ 0 is a
  * memoryless (Poisson) arrival process, B > 0 is bursty
  * (machine-gun retries, bot storms), B < 0 is pacemaker-regular
  * (cron traffic). The point-process audit beside q146's seasonal
  * baseline: WHEN events arrive, not how many.
  *
  * Gaps are per (event_type, user) — the window partitions on the
  * natural high-cardinality key (a per-type-only window would funnel
  * a whole type through one task at 100 TB; per-user streams are what
  * a sessionized event store already buckets by).
  *
  * Exactness: gaps are exact integer seconds; Σg and Σg² accumulate
  * in DECIMAL(38,0) (a long Σg² overflows past ~10⁹ gap-seconds²
  * rows; decimal is exact and associative in both engines), and μ, σ,
  * B are ONE IEEE expression over those exact sums with identical
  * shape — the q151/q166 stance. Population σ (÷n), stated.
  */
object Burstiness {

  /** q173 — per-event-type burstiness ledger. */
  val q173 = Q(
    "q173_event_burstiness",
    (s, dir) => {
      import s.implicits._
      val gaps = Tables.load(s, dir, "events")
        .select($"event_type", $"user_id", $"ts", $"event_id")
        .withColumn("us", expr("unix_micros(ts)"))
        .withColumn("g", expr("(us - lag(us, 1) over (partition by event_type, user_id " +
          "order by us, event_id)) div 1000000"))
        .filter($"g".isNotNull)
      gaps.groupBy($"event_type")
        .agg(count(lit(1)).as("n_gaps"),
          sum($"g".cast("decimal(19,0)")).cast("decimal(38,0)").as("sg"),
          sum($"g".cast("decimal(19,0)") * $"g".cast("decimal(19,0)"))
            .cast("decimal(38,0)").as("sg2"))
        .select($"event_type", $"n_gaps",
          $"sg".cast("double").as("sum_gap_s"),
          (sqrt($"sg2".cast("double") / $"n_gaps".cast("double") -
            ($"sg".cast("double") / $"n_gaps".cast("double")) *
            ($"sg".cast("double") / $"n_gaps".cast("double"))).as("sigma")),
          ($"sg".cast("double") / $"n_gaps".cast("double")).as("mu"))
        .withColumn("burstiness", ($"sigma" - $"mu") / ($"sigma" + $"mu"))
        .orderBy($"event_type")
    },
    Some("""WITH g AS (
      |  SELECT event_type,
      |         (epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY event_type, user_id
      |            ORDER BY epoch_us(ts), event_id)) // 1000000 AS g
      |  FROM events),
      |m AS (
      |  SELECT event_type, COUNT(*) AS n_gaps,
      |         CAST(SUM(CAST(g AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sg,
      |         CAST(SUM(CAST(g AS DECIMAL(19,0)) * CAST(g AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sg2
      |  FROM g WHERE g IS NOT NULL GROUP BY 1)
      |SELECT event_type, n_gaps,
      |       CAST(sg AS DOUBLE) AS sum_gap_s,
      |       SQRT(CAST(sg2 AS DOUBLE) / CAST(n_gaps AS DOUBLE) -
      |            (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)) *
      |            (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))) AS sigma,
      |       CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mu,
      |       (SQRT(CAST(sg2 AS DOUBLE) / CAST(n_gaps AS DOUBLE) -
      |            (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)) *
      |            (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
      |        - CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)) /
      |       (SQRT(CAST(sg2 AS DOUBLE) / CAST(n_gaps AS DOUBLE) -
      |            (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)) *
      |            (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
      |        + CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)) AS burstiness
      |FROM m ORDER BY event_type""".stripMargin),
    doc = "events: Goh-Barabasi inter-arrival burstiness per type — per-user gap streams, decimal-exact moments. " +
      "Inter-arrival gaps from a per-(type, user) lag window; sums and sum-of-squares accumulate in DECIMAL(38,0) (exact, associative); B is one IEEE expression over the exact sums — per-type frame out.")

  val all: Seq[Q] = Seq(q173)
}
