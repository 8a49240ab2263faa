package graft.graph

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Association rules over the A-Priori frequent pairs (Agrawal &
  * Srikant 1994, the rule-generation half q138's mining stops short
  * of): every frequent pair (a, b) yields the directed rules a→b and
  * b→a with confidence sup(ab)/sup(a) and lift
  * sup(ab)·N / (sup(a)·sup(b)) — the co-purchase recommendation
  * signal ("baskets with a also contain b") with its
  * popularity-normalized strength.
  *
  * Exactness: confidence and lift are integer ppm via `div`
  * (sup·10⁶ div …), so ranking cannot drift between engines on float
  * low bits. Long ceiling: sup(ab)·N·10⁶ ≤ 2⁶³ holds to N·sup ≈ 9·10¹²
  * basket-pairs — far past any per-shard rule mine.
  *
  * Scale shape: everything downstream of the (already-pruned) pair
  * frame is |frequent items| / |frequent pairs|-sized; ONE barriered
  * singleton-support frame feeds the A-Priori threshold, the prune and
  * both rule-join denominators, and the basket count + threshold are
  * driver literals off 1-row aggregates (bounded at any corpus size).
  * No new corpus-sized shuffle beyond q138's.
  */
object AssocRules {

  /** Directed rules (ante, cons, support, conf_ppm, lift_ppm) from a
    * distinct (o, p) membership frame — the testable core.
    */
  private[graph] def rules(lp0: DataFrame): DataFrame = {
    val s = lp0.sparkSession
    import s.implicits._
    val lp = graft.Barrier(lp0)
    // ONE singleton-support frame, barriered: the A-Priori threshold,
    // the frequency prune, and BOTH rule-join denominators read it (it
    // used to be aggregated twice — once inside frequentPairs, once
    // here — and each broadcast consumer re-ran the corpus aggregate
    // as its own job). It is item-vocabulary-sized, the cheapest cache
    // in the query.
    val itemSup = graft.Barrier(
      GraphQueries.itemSupportOf(s, lp))
    val pairs = GraphQueries.frequentPairsOver(lp, itemSup)
    // basket count: one long off a 1-row aggregate → driver literal
    // (the crossJoin(broadcast(n)) form was a per-query broadcast job)
    val nb = lp.select($"o").distinct().agg(count(lit(1)))
      .head().getLong(0)
    val directed = pairs.select($"p1".as("ante"), $"p2".as("cons"), $"support")
      .unionAll(pairs.select($"p2".as("ante"), $"p1".as("cons"), $"support"))
    // the rule family is ADVISOR-planned (q254/q140 machinery closed
    // into the loop): the support frame is measured once off its cache
    // and broadcast iff it fits — no static whitelist, and an
    // overgrown item vocabulary degrades to the shuffled equi-join
    val supB = graft.operators.AdvisedBroadcast(itemSup)
    directed
      .join(supB.select($"p".as("ante"), $"sup".as("sup_a")), "ante")
      .join(supB.select($"p".as("cons"), $"sup".as("sup_c")), "cons")
      .select($"ante", $"cons", $"support",
        expr("(support * 1000000) div sup_a").as("conf_ppm"),
        expr(s"(support * $nb * 1000000) div (sup_a * sup_c)").as("lift_ppm"))
  }

  /** q154 — top-15 co-purchase rules by confidence (lift tie-break). */
  val q154 = Q(
    "q154_assoc_rules",
    (s, dir) => {
      import s.implicits._
      val lp = Tables.load(s, dir, "lineitem")
        .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
      val top = rules(lp)
        .orderBy($"conf_ppm".desc, $"lift_ppm".desc, $"ante", $"cons").limit(15)
      top.withColumn("pos", row_number().over(
          Window.orderBy($"conf_ppm".desc, $"lift_ppm".desc, $"ante", $"cons")))
        .select($"ante", $"cons", $"support", $"conf_ppm", $"lift_ppm", $"pos")
        .orderBy($"pos")
    },
    Some("""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |sup AS (SELECT p, COUNT(*) AS sup FROM lp GROUP BY 1),
      |thr AS (SELECT CAST(SUM(sup) // COUNT(*) AS BIGINT) AS avg_sup FROM sup),
      |freq AS (SELECT p FROM sup, thr WHERE sup > avg_sup),
      |fb AS (SELECT lp.o, lp.p FROM lp JOIN freq USING (p)),
      |pairs AS (
      |  SELECT a.p AS p1, b.p AS p2, COUNT(*) AS support
      |  FROM fb a JOIN fb b ON a.o = b.o AND a.p < b.p
      |  GROUP BY 1, 2),
      |n AS (SELECT COUNT(DISTINCT o) AS nb FROM lp),
      |directed AS (
      |  SELECT p1 AS ante, p2 AS cons, support FROM pairs
      |  UNION ALL
      |  SELECT p2 AS ante, p1 AS cons, support FROM pairs),
      |scored AS (
      |  SELECT d.ante, d.cons, d.support,
      |         (d.support * 1000000) // sa.sup AS conf_ppm,
      |         (d.support * n.nb * 1000000) // (sa.sup * sc.sup) AS lift_ppm
      |  FROM directed d
      |  JOIN sup sa ON sa.p = d.ante
      |  JOIN sup sc ON sc.p = d.cons, n),
      |top AS (SELECT * FROM scored
      |        ORDER BY conf_ppm DESC, lift_ppm DESC, ante, cons LIMIT 15)
      |SELECT ante, cons, support, conf_ppm, lift_ppm,
      |       CAST(ROW_NUMBER() OVER (
      |         ORDER BY conf_ppm DESC, lift_ppm DESC, ante, cons) AS INT) AS pos
      |FROM top ORDER BY pos""".stripMargin),
    doc = "graph: A-Priori rule generation — confidence/lift in integer ppm over frequent co-purchase pairs. " +
      "Rules derive from the frequent-pair frame (support-floored before any join); ONE barriered singleton-support frame feeds the A-Priori threshold, the prune and both rule-join denominators (r11 — it was aggregated twice); threshold + basket count are driver literals; the support joins are AdvisedBroadcast-planned; confidence/lift are integer-ppm divisions; top-15 via TakeOrdered.")

  val all: Seq[Q] = Seq(q154)
}
