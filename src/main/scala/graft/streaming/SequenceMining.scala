package graft.streaming

import graft.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Frequent 3-event sequence mining with lift (the bounded-pattern
  * core of GSP/PrefixSpan, run at the length every funnel question
  * actually asks): count every CONTIGUOUS per-user event-type trigram
  * and rank by lift — observed frequency over the frequency expected
  * if positions were independent draws from the type marginals. q160
  * reports pair transitions; length-3 patterns expose the paths pairs
  * cannot (view→click→purchase vs click→view→purchase have identical
  * pair multisets and opposite funnel meaning).
  *
  * Exactness: trigram and marginal counts are exact longs from one
  * windowed pass (total (ts, event_id) order); lift =
  * (obs/N₃) / (pₐ·p_b·p_c) is the mirrored IEEE epilogue on exact
  * integers (a pure-integer form would need obs·Nᵤ³·10⁶ ≲ 10³⁸ —
  * violated at corpus scale, so the ranking rides bit-identical
  * doubles instead, the q216 stance).
  *
  * Scale shape: one user-keyed window pass emits trigrams, compressed
  * map-side to the |types|³-bounded pattern frame (≤125 rows);
  * marginals are a second |types|-row aggregate broadcast in; top-10
  * orders the bounded frame.
  */
object SequenceMining {

  val TopK = 10

  val q218 = Q(
    "q218_event_trigrams",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val tri = Tables.load(s, dir, "events")
        .select($"user_id", $"ts", $"event_id", $"event_type".as("t1"))
        .withColumn("t2", lead($"t1", 1).over(w))
        .withColumn("t3", lead($"t1", 2).over(w))
        .filter($"t3".isNotNull)
      val pat = graft.Barrier(tri.groupBy($"t1", $"t2", $"t3")
        .agg(count(lit(1)).as("obs")))
      val marg = tri.select(explode(array($"t1", $"t2", $"t3")).as("t"))
        .groupBy($"t").agg(count(lit(1)).as("c"))
      val nu = marg.agg(sum($"c").as("nu"))
      val n3 = pat.agg(sum($"obs").as("n3"))
      pat
        .join(broadcast(marg.select($"t".as("t1"), $"c".as("c1"))), "t1")
        .join(broadcast(marg.select($"t".as("t2"), $"c".as("c2"))), "t2")
        .join(broadcast(marg.select($"t".as("t3"), $"c".as("c3"))), "t3")
        .crossJoin(broadcast(nu)).crossJoin(broadcast(n3))
        .select($"t1", $"t2", $"t3", $"obs",
          (($"obs".cast("double") / $"n3".cast("double"))
            / (($"c1".cast("double") / $"nu".cast("double"))
              * ($"c2".cast("double") / $"nu".cast("double"))
              * ($"c3".cast("double") / $"nu".cast("double"))))
            .as("lift"))
        .orderBy($"lift".desc, $"t1", $"t2", $"t3")
        .limit(TopK)
    },
    Some(s"""WITH seq AS (
      |  SELECT event_type AS t1,
      |         LEAD(event_type, 1) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS t2,
      |         LEAD(event_type, 2) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS t3
      |  FROM events),
      |tri AS (SELECT * FROM seq WHERE t3 IS NOT NULL),
      |pat AS (SELECT t1, t2, t3, COUNT(*) AS obs FROM tri GROUP BY 1, 2, 3),
      |marg AS (
      |  SELECT t, COUNT(*) AS c FROM (
      |    SELECT UNNEST([t1, t2, t3]) AS t FROM tri) GROUP BY 1),
      |nu AS (SELECT CAST(SUM(c) AS BIGINT) AS nu FROM marg),
      |n3 AS (SELECT CAST(SUM(obs) AS BIGINT) AS n3 FROM pat)
      |SELECT p.t1, p.t2, p.t3, p.obs,
      |       (CAST(p.obs AS DOUBLE) / CAST(n3.n3 AS DOUBLE))
      |         / ((CAST(m1.c AS DOUBLE) / CAST(nu.nu AS DOUBLE))
      |           * (CAST(m2.c AS DOUBLE) / CAST(nu.nu AS DOUBLE))
      |           * (CAST(m3.c AS DOUBLE) / CAST(nu.nu AS DOUBLE))) AS lift
      |FROM pat p
      |JOIN marg m1 ON m1.t = p.t1 JOIN marg m2 ON m2.t = p.t2
      |JOIN marg m3 ON m3.t = p.t3
      |CROSS JOIN nu CROSS JOIN n3
      |ORDER BY lift DESC, p.t1, p.t2, p.t3 LIMIT $TopK""".stripMargin),
    doc = s"sequence: top-$TopK contiguous 3-event patterns by independence lift (|types|^3-bounded pattern frame, one windowed pass). " +
      "Trigram mining: one user-keyed window pass, map-side compression to the |types|^3-bounded pattern frame (<=125 rows); marginals broadcast back; lift ranks on bit-identical doubles.")

  val all: Seq[Q] = Seq(q218)
}
