package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Directly-follows transition matrix over per-user event streams —
  * the first-order Markov model process mining builds before any
  * conformance checking (van der Aalst's DFG), and the complement to
  * q77's whole-path ranking: q77 asks "which 3-step journeys are
  * common", this asks "given state A, where does the NEXT step go",
  * with per-state outflow probabilities.
  *
  * Exactness: event order is (ts µs, event_id) — the engine-shared
  * total order (q77's) — and probabilities are integer ppm of each
  * source state's outflow (`div`), so the matrix is bit-identical
  * across engines.
  *
  * Scale shape: ONE window pass (partitioned by user — the natural
  * key, no global sort) produces lagged pairs; the matrix is a
  * |types|²-bounded aggregate (map-side combinable) and the outflow
  * normalizer joins back |types| rows by broadcast. At 100 TB the
  * per-user partitions are what a sessionized event store is already
  * bucketed by.
  */
object MarkovTransitions {

  /** The testable core shared with [[TransitionMonitorJob]]: the full
    * directly-follows matrix (from_type, to_type, n, p_ppm) of an
    * events frame — per-user lead pairs in the engine-shared
    * (ts µs, event_id) order, integer-ppm outflow shares.
    */
  private[streaming] def transitionShares(events: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val byUser = Window.partitionBy($"user_id")
      .orderBy(expr("unix_micros(ts)"), $"event_id")
    val pairs = events
      .select($"user_id", $"event_type", $"ts", $"event_id")
      .withColumn("next_type", lead($"event_type", 1).over(byUser))
      .filter($"next_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"next_type".as("to_type"))
      .agg(count(lit(1)).as("n"))
    val outflow = pairs.groupBy($"from_type").agg(sum($"n").as("out_n"))
    pairs.join(broadcast(outflow), "from_type")
      .select($"from_type", $"to_type", $"n",
        expr("(n * 1000000) div out_n").as("p_ppm"))
  }

  /** q160 — top-20 event-type transitions with outflow shares. */
  val q160 = Q(
    "q160_markov_transitions",
    (s, dir) => {
      import s.implicits._
      val top = transitionShares(Tables.load(s, dir, "events"))
        .orderBy($"n".desc, $"from_type", $"to_type").limit(20)
      top.withColumn("pos", row_number().over(
          Window.orderBy($"n".desc, $"from_type", $"to_type")))
        .orderBy($"pos")
    },
    Some("""WITH ordered AS (
      |  SELECT user_id, event_type,
      |         LEAD(event_type) OVER (PARTITION BY user_id
      |           ORDER BY epoch_us(ts), event_id) AS next_type
      |  FROM events),
      |pairs AS (
      |  SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      |  FROM ordered WHERE next_type IS NOT NULL
      |  GROUP BY 1, 2),
      |outflow AS (
      |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS out_n
      |  FROM pairs GROUP BY 1),
      |top AS (
      |  SELECT p.from_type, p.to_type, p.n, (p.n * 1000000) // o.out_n AS p_ppm
      |  FROM pairs p JOIN outflow o ON p.from_type = o.from_type
      |  ORDER BY p.n DESC, p.from_type, p.to_type LIMIT 20)
      |SELECT from_type, to_type, n, p_ppm,
      |       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, from_type, to_type) AS INT) AS pos
      |FROM top ORDER BY pos""".stripMargin),
    doc = "events: first-order Markov directly-follows matrix with integer-ppm outflow shares. " +
      "Directly-follows pairs from a per-user lead window (one shuffle on user_id) compressed map-side to the |types|^2 transition frame; outflow shares ride a broadcast join.")

  val all: Seq[Q] = Seq(q160)
}
