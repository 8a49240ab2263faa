package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Markov entropy rate of the event-type process — the
  * predictability number on top of q160's directly-follows matrix:
  * q160 shows WHERE users go next; the conditional entropy of each
  * state and the chain's overall entropy rate say how PREDICTABLE
  * the next step is (0 bits = deterministic funnel, log₂k bits =
  * uniform wandering) — the statistic that decides whether a
  * next-event prediction model has anything to learn (Shannon 1951's
  * predictability bound, on the empirical chain).
  *
  * Exactness: with transition counts n(v,w) and outflows n(v·), the
  * conditional entropy is H(W|v) = Σ_w n(v,w)·(L(n(v·)) − L(n(v,w)))
  * div n(v·) in QUANTIZED log2 micro-bits (the engine-shared lq,
  * [[graft.text.TextQueries.lqSql]] — exact longs, no libm; the
  * q99/q153 discipline), and the entropy rate weights states by
  * their empirical transition mass: Σ_v,w n·(L(n(v·)) − L(n)) div N.
  * Every value is an exact long both engines reproduce bit-for-bit.
  * Ceiling: Σ n·L ≤ N·63·2²⁰ — exact to ~10¹¹ transitions.
  *
  * Scale shape: q160's — one per-user lead window pass compressed
  * map-side to the k×k type matrix; entropy sums run on that
  * k²-bounded frame; |types| rows out, each carrying the global rate.
  */
object EntropyRate {

  import graft.text.TextQueries.{lqSql, lqDuck}

  val q249 = Q(
    "q249_markov_entropy_rate",
    (s, dir) => {
      import s.implicits._
      val pairs = graft.Barrier(
        MarkovTransitions.transitionShares(Tables.load(s, dir, "events"))
          .select($"from_type", $"to_type", $"n"))
      val perFrom = pairs.groupBy($"from_type")
        .agg(sum($"n").as("out_n"), count(lit(1)).as("n_branches"))
      val withOut = pairs.join(perFrom, "from_type")
        .withColumn("bits_q",
          expr(s"n * (${lqSql("out_n")} - ${lqSql("n")})"))
      val hFrom = withOut.groupBy($"from_type", $"out_n", $"n_branches")
        .agg(sum($"bits_q").as("hsum"))
        .select($"from_type", $"out_n", $"n_branches",
          expr("hsum div out_n").as("cond_entropy_q"))
      val glob = withOut.agg(sum($"bits_q").as("gsum"), sum($"n").as("nn"))
        .select(expr("gsum div nn").as("entropy_rate_q"), $"nn".as("n_transitions"))
      hFrom.crossJoin(broadcast(glob))
        .select($"from_type", $"out_n", $"n_branches", $"cond_entropy_q",
          $"entropy_rate_q", $"n_transitions")
        .orderBy($"from_type")
    },
    Some(s"""WITH ordered AS (
      |  SELECT user_id, event_type,
      |         LEAD(event_type) OVER (PARTITION BY user_id
      |           ORDER BY epoch_us(ts), event_id) AS next_type
      |  FROM events),
      |pairs AS MATERIALIZED (
      |  SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      |  FROM ordered WHERE next_type IS NOT NULL
      |  GROUP BY 1, 2),
      |pf AS (
      |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS out_n,
      |         COUNT(*) AS n_branches
      |  FROM pairs GROUP BY 1),
      |wo AS (
      |  SELECT p.from_type, pf.out_n, pf.n_branches, p.n,
      |         p.n * (${lqDuck("pf.out_n")} - ${lqDuck("p.n")}) AS bits_q
      |  FROM pairs p JOIN pf ON pf.from_type = p.from_type),
      |hf AS (
      |  SELECT from_type, out_n, n_branches,
      |         CAST(SUM(bits_q) // out_n AS BIGINT) AS cond_entropy_q
      |  FROM wo GROUP BY 1, 2, 3),
      |g AS (
      |  SELECT CAST(SUM(bits_q) // SUM(n) AS BIGINT) AS entropy_rate_q,
      |         CAST(SUM(n) AS BIGINT) AS n_transitions
      |  FROM wo)
      |SELECT from_type, out_n, n_branches, cond_entropy_q,
      |       entropy_rate_q, n_transitions
      |FROM hf, g ORDER BY from_type""".stripMargin),
    doc = "events: Markov entropy rate + per-state conditional entropy of the event-type chain in quantized-log2 micro-bits — the predictability bound over q160's matrix. " +
      "EntropyRate: q160's per-user lead window compressed map-side to the kxk transition matrix behind a Barrier; entropy sums in quantized log2 run on that k^2 frame; global rate is a 1-row broadcast.")

  val all: Seq[Q] = Seq(q249)
}
