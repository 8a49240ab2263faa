package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Golden-record entity resolution — the master-data-management (MDM)
  * composition the reference's healthcare domain lives on (patient
  * identity consolidation): blocked fuzzy candidate pairs (the q75
  * prefix-block + Levenshtein verify, never the quadratic all-pairs),
  * transitive closure into identity clusters (match is not transitive;
  * A≈B and B≈C must merge A,C — the
  * [[graft.text.TextQueries.componentLabels]] spine, pointer-doubling
  * safe for chain-shaped match graphs), then one deterministic
  * survivor election per cluster (richest record, key tiebreak) — the
  * "golden" row downstream marts join against.
  *
  * Scale design: candidate generation touches only within-block pairs
  * (bounded blocks; a skewed block key would route through the LSH
  * hot-bucket machinery); the closure is O(log diameter) rounds of
  * narrow (node, lab) joins; the election is a map-side struct-max —
  * no per-cluster window, no sort. Self-loop edges enroll singleton
  * customers so every record lands in exactly one cluster.
  *
  * The oracle recomputes the closure with a recursive CTE — a
  * different algorithm entirely (the q72 proof shape), so hash
  * agreement is strong evidence for both the matching and the merge.
  */
object GoldenRecord {

  val q145 = Q(
    "q145_golden_record",
    (s, dir) => {
      import s.implicits._
      val c = graft.Barrier(Tables.load(s, dir, "customer")
        .select($"c_custkey", $"c_name", $"c_acctbal",
          substring($"c_name", 1, 16).as("blk")))
      // Barrier: componentLabels reads its edge input twice (node
      // universe + symmetric closure) — uncached, the block self-join
      // and its 700k levenshtein evaluations would run twice.
      // Two exact cuts on the verify cost, preserving "same block AND
      // levenshtein(name) <= 1" semantics bit-for-bit:
      //  - prefix stripping: blocked pairs share their 16-char prefix
      //    BY CONSTRUCTION, and ed(p·s, p·t) = ed(s, t) — so the DP
      //    runs on the short suffixes, not the full names;
      //  - the banded (threshold) form: O(len·k) per pair, -1 past the
      //    bound, so "within 1 edit" is >= 0.
      val matches = graft.Barrier(c.as("a").join(c.as("b"),
          $"a.blk" === $"b.blk" && $"a.c_custkey" < $"b.c_custkey")
        .filter(levenshtein(
          expr("substring(a.c_name, 17)"), expr("substring(b.c_name, 17)"), 1) >= 0)
        .select($"a.c_custkey".as("doc_a"), $"b.c_custkey".as("doc_b")))
      // Singletons stay OUT of the propagation (they would ride every
      // round as always-stable nodes) and enroll afterwards: no match
      // row ⇒ the record is its own cluster root.
      val labels = graft.text.TextQueries.componentLabels(matches)
      c.join(labels, c("c_custkey") === labels("node"), "left_outer")
        .withColumn("lab", coalesce($"lab", $"c_custkey"))
        .groupBy($"lab".as("cluster_root"))
        .agg(count(lit(1)).as("n_members"),
          max(struct($"c_acctbal".as("bal"), (-$"c_custkey").as("negk")))
            .as("w"))
        .select($"cluster_root", $"n_members",
          (-$"w.negk").as("canonical_key"), $"w.bal".as("canonical_acctbal"))
        .orderBy($"cluster_root")
    },
    // Bounded oracle (VERDICT r9 item 2). Three cuts vs the reference
    // form (kept below, proven row-identical by
    // tools/check_oracle_equiv.py at the SFs where it runs):
    //  1. candidate pairs via DELETION-NEIGHBORHOOD blocking on the
    //     16-prefix-trimmed suffix (lev(s,t) ≤ 1 ⟹ s and t share a
    //     member of {s}∪del1(s) — substitution at i shares del_i,
    //     indel shares the shorter string itself), then the exact
    //     banded check — O(N·L) variants instead of O(block²)
    //     levenshtein calls (the engine's own trim lemma
    //     ed(p·s, p·t) = ed(s, t) covers the prefix);
    //  2. connected components via VERIFIED hook+jump min-label
    //     propagation (10 materialized rounds) instead of the
    //     recursive reachability closure — the closure materializes
    //     |component|² (node, reach) pairs, which at sf1 is 2.25e9
    //     rows per copy-spanning cluster; min-label keeps O(N) per
    //     round. Convergence is NOT assumed: the `bad` CTE counts
    //     edges still crossing two labels, and any non-zero count
    //     POISONS the output with a sentinel row (-1) so the compare
    //     fails loudly instead of silently accepting a partial
    //     closure. (bad = 0 ⟹ labels are per-component constant and
    //     every label is a member id ≥ the component min that the min
    //     node itself retains ⟹ labels ≡ component minima — exactly
    //     the closure's roots.)
    //  3. every CTE MATERIALIZED (DuckDB's default inlining
    //     re-planned sym per round).
    Some(boundedOracle),
    doc = "MDM: golden-record consolidation — blocked fuzzy match, transitive-closure clusters, struct-max survivor election. " +
      "Golden record: within-block candidate self-join (bounded blocks) + Levenshtein filter; componentLabels' log-round propagate+shortcut over (node, lab) pairs; survivor election is ONE struct-max aggregate per cluster — no per-cluster window.",
    oracleReference = Some("""WITH RECURSIVE c AS (
      |  SELECT c_custkey, c_name, c_acctbal, substr(c_name, 1, 16) AS blk
      |  FROM customer),
      |e AS (
      |  SELECT a.c_custkey AS ka, b.c_custkey AS kb
      |  FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
      |  WHERE levenshtein(a.c_name, b.c_name) <= 1),
      |sym AS (
      |  SELECT ka AS a, kb AS b FROM e
      |  UNION SELECT kb, ka FROM e
      |  UNION SELECT c_custkey, c_custkey FROM c),
      |closure(node, reach) AS (
      |  SELECT a, a FROM sym
      |  UNION
      |  SELECT cl.node, s.b FROM closure cl JOIN sym s ON s.a = cl.reach),
      |roots AS (
      |  SELECT node, MIN(reach) AS cluster_root FROM closure GROUP BY node),
      |labeled AS (
      |  SELECT r.cluster_root, c.c_custkey, c.c_acctbal
      |  FROM roots r JOIN c ON c.c_custkey = r.node),
      |sel AS (
      |  SELECT cluster_root, c_custkey, c_acctbal,
      |         ROW_NUMBER() OVER (PARTITION BY cluster_root
      |           ORDER BY c_acctbal DESC, c_custkey) AS rn
      |  FROM labeled),
      |sizes AS (
      |  SELECT cluster_root, COUNT(*) AS n_members FROM labeled GROUP BY 1)
      |SELECT s.cluster_root, z.n_members,
      |       s.c_custkey AS canonical_key, s.c_acctbal AS canonical_acctbal
      |FROM sel s JOIN sizes z USING (cluster_root)
      |WHERE s.rn = 1 ORDER BY s.cluster_root""".stripMargin))

  /** Min-label rounds in the bounded oracle. Convergence is verified
    * in-query (see the `bad` poison), so this is a loud ceiling, not a
    * silent assumption: hook+jump reaches component minima in
    * O(log n) rounds for any component shape — the binding case here
    * is PATH-shaped chains (consecutive serial numbers), where
    * hook+jump needs ~2·log₂(chain) rounds: sf0.01's ~100-long chains
    * converge by round ~14, sf1's dense digit graph by ~5. 20 rounds
    * covers million-node paths; a corpus that ever needs more fails
    * the compare with the sentinel row instead of passing with
    * partial clusters.
    */
  // final + literal ⇒ compile-time constant: boundedOracle is forced
  // during q145's construction, BEFORE later plain vals initialize —
  // a non-constant val here would read as 0 at that point
  private final val LabelRounds = 20

  private lazy val boundedOracle: String = {
    val head = """WITH c AS MATERIALIZED (
      |  SELECT c_custkey, c_name, c_acctbal, substr(c_name, 1, 16) AS blk,
      |         substr(c_name, 17) AS sfx
      |  FROM customer),
      |v AS MATERIALIZED (
      |  SELECT c_custkey, blk, sfx AS var FROM c
      |  UNION
      |  SELECT c_custkey, blk, substr(sfx, 1, i - 1) || substr(sfx, i + 1) AS var
      |  FROM c, UNNEST(generate_series(1, len(sfx))) AS g(i)),
      |cand AS MATERIALIZED (
      |  SELECT DISTINCT a.c_custkey AS ka, b.c_custkey AS kb
      |  FROM v a JOIN v b
      |    ON a.blk = b.blk AND a.var = b.var AND a.c_custkey < b.c_custkey),
      |e AS MATERIALIZED (
      |  SELECT cand.ka, cand.kb
      |  FROM cand JOIN c ca ON ca.c_custkey = cand.ka
      |            JOIN c cb ON cb.c_custkey = cand.kb
      |  WHERE levenshtein(ca.sfx, cb.sfx) <= 1),
      |sym AS MATERIALIZED (
      |  SELECT ka AS a, kb AS b FROM e
      |  UNION SELECT kb, ka FROM e
      |  UNION SELECT c_custkey, c_custkey FROM c),
      |l0 AS MATERIALIZED (SELECT c_custkey AS node, c_custkey AS lab FROM c)"""
      .stripMargin
    val rounds = (1 to LabelRounds).map { r =>
      s""",
         |h$r AS MATERIALIZED (
         |  SELECT cur.node, LEAST(cur.lab, COALESCE(nb.mn, cur.lab)) AS lab
         |  FROM l${r - 1} cur LEFT JOIN (
         |    SELECT s.a AS node, MIN(l2.lab) AS mn
         |    FROM sym s JOIN l${r - 1} l2 ON l2.node = s.b
         |    GROUP BY s.a) nb ON nb.node = cur.node),
         |l$r AS MATERIALIZED (
         |  SELECT c1.node, c2.lab FROM h$r c1 JOIN h$r c2 ON c2.node = c1.lab)"""
        .stripMargin
    }.mkString
    val R = LabelRounds
    val tail = s""",
      |bad AS MATERIALIZED (
      |  SELECT COUNT(*) AS n FROM sym s
      |  JOIN l$R x ON x.node = s.a JOIN l$R y ON y.node = s.b
      |  WHERE x.lab <> y.lab),
      |roots AS (SELECT node, lab AS cluster_root FROM l$R),
      |labeled AS MATERIALIZED (
      |  SELECT r.cluster_root, c.c_custkey, c.c_acctbal
      |  FROM roots r JOIN c ON c.c_custkey = r.node),
      |sel AS (
      |  SELECT cluster_root, c_custkey, c_acctbal,
      |         ROW_NUMBER() OVER (PARTITION BY cluster_root
      |           ORDER BY c_acctbal DESC, c_custkey) AS rn
      |  FROM labeled),
      |sizes AS (
      |  SELECT cluster_root, COUNT(*) AS n_members FROM labeled GROUP BY 1)
      |SELECT s.cluster_root, z.n_members,
      |       s.c_custkey AS canonical_key, s.c_acctbal AS canonical_acctbal
      |FROM sel s JOIN sizes z USING (cluster_root)
      |WHERE s.rn = 1 AND (SELECT n FROM bad) = 0
      |UNION ALL
      |SELECT -1, -1, -1, -1.0 WHERE (SELECT n FROM bad) > 0
      |ORDER BY cluster_root""".stripMargin
    head + rounds + tail
  }

  val all: Seq[Q] = Seq(q145)
}
