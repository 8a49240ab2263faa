package graft.etl

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** q263 — curation lineage ledger as a registry query: derive a
  * three-stage curation decision per document (order-invariant
  * fingerprint dedup → integer quality rules → token-budget
  * selection), write every decision through the REAL [[Lineage]]
  * ledger API, then answer the audit question from the ledger — the
  * (stage, verdict, source) accounting a datasheet or takedown review
  * starts from. The full pipeline lifecycle (ingest dedup, all six
  * gates, erasure receipts, per-doc `explain`) is spec-proven in
  * `LineageSpec`; this query keeps the ledger itself on the hash gate
  * with stages the DuckDB oracle can recompute exactly.
  *
  * Stage semantics (all integer-exact, engine-mirrorable):
  *  - '''dedup''': survivor = min doc_id per order-invariant
  *    fingerprint (sorted distinct tokens — the q44 key, catching the
  *    corpus's planted word-reorder duplicates); losers drop.
  *  - '''rules''': m ≥ 15 tokens AND distinct-token ratio
  *    q = distinct·10⁶ div m ≥ 300000 (the q90 score as a floor).
  *  - '''select''': rank by (q desc, doc_id), spend half the kept
  *    corpus's tokens — cum ≤ budget selects, the tail is
  *    over_budget. Prefix sum via DistributedRank (range sort +
  *    per-partition offsets), never an unpartitioned window.
  *
  * Scale shape: fingerprint dedup shuffles a 16-byte md5 key; the
  * rules gate is per-row codegen; selection is one distributed
  * prefix-sum pass; ledger writes are projections/anti-joins of
  * already-computed frames shuffling (id, source, short strings) only;
  * the audit is a map-side-combinable aggregate over the
  * bucket-partitioned ledger.
  */
object LineageQueries {

  private val MinTokens = 15L
  private val MinQ = 300000L

  val q263 = Q(
    "q263_curation_lineage",
    (s, dir) => {
      import s.implicits._
      val ldir = s"${System.getProperty("java.io.tmpdir")}/graft_lineage_" +
        java.security.MessageDigest.getInstance("MD5")
          .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
          .take(16)
      val p = new org.apache.hadoop.fs.Path(ldir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(p, true) // rebuild-per-invocation (the q262 stance)

      val d = Tables.load(s, dir, "documents")
        .select($"doc_id", $"source", coalesce($"text", lit("")).as("t"))
      // m and q computed ABOVE the cache, text dropped (r13 — guide
      // §2.3/§5): the old cache held the raw `t` column and the rules
      // stage re-ran split(t) per consumer of the m-frame (threshold
      // fold, selection sort, rules branches — three text re-tokenizes
      // off the cache); here the tokenize runs once per row in the
      // fingerprint projection (codegen CSE shares the split() across
      // f/m/q) and the cached frame carries only ids + two longs —
      // smaller blocks, zero downstream text work. Values unchanged:
      // same expressions, same rows.
      val fp = d.select($"doc_id", $"source",
        md5(concat_ws(" ", array_sort(array_distinct(split($"t", " ")))))
          .as("f"),
        size(split($"t", " ")).cast("long").as("m"),
        expr("cast(size(array_distinct(split(t, ' '))) as long) * 1000000L" +
          " div cast(size(split(t, ' ')) as long)").as("q"))
      val surv = fp.groupBy($"f").agg(min($"doc_id").as("surv"))
      // w and cum are each consumed by SEVERAL decision branches below;
      // without the barrier every branch re-runs the md5-fingerprint
      // scan and the prefix-sum sort (the r9 bench showed q263 paying
      // the pipeline ~4× — once per record() job). Cache both once;
      // Bench/Verify clear the cache between queries.
      val w = fp.join(surv, Seq("f")).drop("f").cache()
      val dedupDropped = w.filter($"doc_id" =!= $"surv")
        .withColumn("why", concat(lit("fp_dup_of="), $"surv"))
      val kept = w.filter($"doc_id" === $"surv")

      val m = kept
      val pass = $"m" >= MinTokens && $"q" >= MinQ
      val rulesDropped = m.filter(!pass)
      val rulesKept = m.filter(pass)

      val tot = rulesKept.agg(expr("sum(m) div 2").as("budget"))
      val cum = graft.operators.DistributedRank.withPrefixSum(
        rulesKept.crossJoin(broadcast(tot)),
        Seq($"q".desc, $"doc_id"), $"m", "cum").cache()
      val selected = cum.filter($"cum" <= $"budget")
      val overBudget = cum.filter($"cum" > $"budget")

      // one batched append: all four stages' decisions land in a
      // single write job over the cached frames instead of four
      // jobs × four pipeline recomputes
      def dec(df: org.apache.spark.sql.DataFrame, stage: String,
              verdict: String, detail: org.apache.spark.sql.Column) =
        df.select($"doc_id", $"source", lit(stage).as("stage"),
          lit(verdict).as("verdict"), detail.cast("string").as("detail"))
      Lineage.recordBatch(s, ldir,
        dec(dedupDropped, "dedup", "dropped", $"why")
          .unionByName(dec(rulesDropped, "rules", "dropped",
            lit("below_floor")))
          .unionByName(dec(selected, "select", "selected",
            lit("within_budget")))
          .unionByName(dec(overBudget, "select", "over_budget",
            lit("budget_exhausted"))), 0L)
      Lineage.audit(s, ldir)
    },
    Some(s"""WITH d AS (
      |  SELECT doc_id, source, COALESCE(text, '') AS t FROM documents),
      |fp AS (
      |  SELECT doc_id, source, t,
      |         array_to_string(list_sort(list_distinct(string_split(t, ' '))), ' ') AS f
      |  FROM d),
      |surv AS (SELECT f, min(doc_id) AS surv FROM fp GROUP BY f),
      |w AS (SELECT fp.doc_id, fp.source, fp.t, surv.surv
      |      FROM fp JOIN surv USING (f)),
      |ded_drop AS (SELECT doc_id, source FROM w WHERE doc_id <> surv),
      |kept AS (SELECT doc_id, source, t FROM w WHERE doc_id = surv),
      |m AS (
      |  SELECT doc_id, source,
      |         CAST(len(string_split(t, ' ')) AS BIGINT) AS m,
      |         CAST(len(list_distinct(string_split(t, ' '))) AS BIGINT) * 1000000
      |           // CAST(len(string_split(t, ' ')) AS BIGINT) AS q
      |  FROM kept),
      |rules_drop AS (
      |  SELECT doc_id, source FROM m
      |  WHERE NOT (m >= $MinTokens AND q >= $MinQ)),
      |rk AS (SELECT * FROM m WHERE m >= $MinTokens AND q >= $MinQ),
      |b AS (SELECT SUM(m) // 2 AS budget FROM rk),
      |cum AS (
      |  SELECT doc_id, source,
      |         SUM(m) OVER (ORDER BY q DESC, doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM rk)
      |SELECT stage, verdict, source, n_docs FROM (
      |  SELECT 'dedup' AS stage, 'dropped' AS verdict, source,
      |         COUNT(*) AS n_docs FROM ded_drop GROUP BY source
      |  UNION ALL
      |  SELECT 'rules', 'dropped', source, COUNT(*)
      |  FROM rules_drop GROUP BY source
      |  UNION ALL
      |  SELECT 'select', 'selected', source, COUNT(*)
      |  FROM cum, b WHERE cum <= budget GROUP BY source
      |  UNION ALL
      |  SELECT 'select', 'over_budget', source, COUNT(*)
      |  FROM cum, b WHERE cum > budget GROUP BY source)
      |ORDER BY stage, verdict, source""".stripMargin),
    doc = "etl: curation lineage ledger — three SQL-mirrorable decision stages written through the Lineage API, audited from the bucket-partitioned ledger (full lifecycle incl. erasure receipts in LineageSpec). " +
      "Lineage ledger: fingerprint dedup shuffles a 16-byte md5 key; m/q token stats computed ABOVE the cache in the fingerprint projection (codegen CSE shares one split()) so the cached frame is ids+longs with the text column dropped — no downstream re-tokenize (r13); rules gate is per-row codegen; selection is ONE DistributedRank prefix-sum pass; all four stages' decisions land in ONE batched append (recordBatch) over two cached frames — one write job, rows clustered by bucket so each append is one file per bucket, not tasks×buckets; audit aggregates the bucket-partitioned ledger map-side; per-doc explain() is a partition-pruned single-bucket read.")

  val all: Seq[Q] = Seq(q263)
}
