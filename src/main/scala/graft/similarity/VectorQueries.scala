package graft.similarity

import graft.{Q, Tables}
import graft.functions.CosineSimilarity
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (builder-prompt
  * training-data extension): brute-force cosine top-k as the exactness
  * baseline, sign-random-projection LSH as the scale path, and blocked
  * near-duplicate detection.
  *
  * All cosine math runs through the codegen'd [[CosineSimilarity]]
  * Catalyst expression. Scores are ranked on a rounded value with a
  * vec_id tiebreak so ordering is stable across engines.
  */
object VectorQueries {

  private def emb(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  private def cos(s: SparkSession, a: String, b: String): Column = {
    CosineSimilarity.register(s)
    expr(s"cosine_sim($a, $b)")
  }

  /** DuckDB cosine with the same sequential-double math (manual, so we
    * do not depend on list_cosine_similarity's internal precision).
    */
  private def oCos(a: String, b: String): String =
    s"""(SELECT SUM(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))
       |   / (sqrt(SUM(CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)))
       |      * sqrt(SUM(CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))
       | FROM UNNEST(generate_series(1, 64)) AS g(i))""".stripMargin

  /** q47 — brute-force cosine top-k (the exactness baseline): for each
    * probe vector (vec_id < 8), the 5 nearest neighbors. The probe set
    * is broadcast; the big side streams once — at 100 TB this is the
    * classic broadcast-nested-loop scoring pass, embarrassingly
    * parallel, no shuffle until the final per-probe top-k
    * (TakeOrderedAndProject-sized: 8×5 rows).
    */
  val q47 = Q(
    "q47_cosine_topk",
    (s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val probes = e.filter($"vec_id" < 8)
        .select($"vec_id".as("query_id"), $"embedding".as("qvec"))
      val scored = e.crossJoin(broadcast(probes))
        .filter($"vec_id" =!= $"query_id")
        .withColumn("score", round(cos(s, "qvec", "embedding"), 4))
      val w = Window.partitionBy($"query_id")
        .orderBy($"score".desc, $"vec_id")
      scored
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 5)
        .select($"query_id", $"vec_id".as("neighbor_id"), $"score", $"rank")
        .orderBy($"query_id", $"rank")
    },
    Some(s"""WITH probes AS (
      |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 8),
      |scored AS (
      |  SELECT p.query_id, e.vec_id AS neighbor_id,
      |         ROUND(${oCos("p.qvec", "e.embedding")}, 4) AS score
      |  FROM embeddings e CROSS JOIN probes p
      |  WHERE e.vec_id <> p.query_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, score,
      |         ROW_NUMBER() OVER (PARTITION BY query_id
      |           ORDER BY score DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin),
    doc = "similarity: brute-force cosine top-k via codegen'd expression. " +
      "Probes broadcast; codegen'd CosineSimilarity scores map-side; the only exchange is the final per-probe top-k (8x5 rows).")

  /** Sign-random-projection hyperplane weights, derived from MD5 parity
    * (`md5(p + "_" + d)` first hex char odd → +1) — a derivation both
    * engines reproduce bit-identically without shipping a matrix.
    */
  private[similarity] def planeWeight(p: Int, d: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${p}_$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if (hex.charAt(0).toInt % 2 == 1) 1.0 else -1.0
  }

  private val nPlanes = 8
  private val dims = 64

  /** Per-vector LSH bucket id: 8 sign bits of hyperplane projections.
    * Each projection is the codegen'd [[graft.functions.DotProduct]]
    * against a literal weight array — a fused loop in whole-stage
    * codegen, vs the interpreted `aggregate(zip_with(...))` higher-order
    * formulation that allocates a products array per (row, plane).
    */
  private def bucketCol: Column = {
    val projections = (0 until nPlanes).map { p =>
      val w = (0 until dims).map(d => planeWeight(p, d))
      val warrSql = w.map(v => s"CAST($v AS DOUBLE)").mkString("array(", ", ", ")")
      val proj = expr(s"dot_product(embedding, $warrSql)")
      when(proj >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    projections.reduce(_ + _)
  }

  private def oBucketSql: String =
    s"""SELECT vec_id, embedding, CAST(SUM(bitval) AS BIGINT) AS bucket FROM (
       |  SELECT vec_id, embedding, CASE WHEN proj >= 0 THEN 1 << p ELSE 0 END AS bitval
       |  FROM (
       |    SELECT vec_id, embedding, p.p,
       |           SUM((CASE WHEN ascii(substr(md5(p.p || '_' || (d.i - 1)), 1, 1)) % 2 = 1
       |                THEN 1.0 ELSE -1.0 END) * CAST(embedding[d.i] AS DOUBLE)) AS proj
       |    FROM embeddings
       |    CROSS JOIN (SELECT UNNEST(generate_series(0, ${nPlanes - 1})) AS p) p
       |    CROSS JOIN (SELECT UNNEST(generate_series(1, $dims)) AS i) d
       |    GROUP BY vec_id, embedding, p.p))
       |GROUP BY vec_id, embedding""".stripMargin

  /** q48 — LSH-bucketed approximate nearest neighbors (the scale path):
    * bucket every vector by 8 hyperplane sign bits (one narrow pass),
    * then score probes only against same-bucket candidates. At 100 TB
    * the candidate join is an equi-join on an 8-bit key instead of a
    * full cross product — ~1/256 of the scoring work of q47.
    */
  val q48 = Q(
    "q48_ann_lsh",
    (s, dir) => {
      import s.implicits._
      val bucketed = emb(s, dir)
        .withColumn("bucket", bucketCol)
      val probes = bucketed.filter($"vec_id" < 8)
        .select($"vec_id".as("query_id"), $"embedding".as("qvec"), $"bucket")
      val cands = bucketed.join(broadcast(probes), Seq("bucket"))
        .filter($"vec_id" =!= $"query_id")
        .withColumn("score", round(cos(s, "qvec", "embedding"), 4))
      val w = Window.partitionBy($"query_id")
        .orderBy($"score".desc, $"vec_id")
      cands
        .withColumn("rank", row_number().over(w))
        .filter($"rank" <= 5)
        .select($"query_id", $"vec_id".as("neighbor_id"), $"score", $"rank")
        .orderBy($"query_id", $"rank")
    },
    Some(s"""WITH bucketed AS ($oBucketSql),
      |probes AS (
      |  SELECT vec_id AS query_id, embedding AS qvec, bucket
      |  FROM bucketed WHERE vec_id < 8),
      |cands AS (
      |  SELECT p.query_id, e.vec_id AS neighbor_id,
      |         ROUND(${oCos("p.qvec", "e.embedding")}, 4) AS score
      |  FROM bucketed e JOIN probes p ON e.bucket = p.bucket
      |  WHERE e.vec_id <> p.query_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, score,
      |         ROW_NUMBER() OVER (PARTITION BY query_id
      |           ORDER BY score DESC, neighbor_id) AS rank
      |  FROM cands)
      |SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin),
    doc = "similarity: sign-LSH bucketed ANN (md5-derived hyperplanes). " +
      "8-bit sign-LSH bucket turns scoring into an equi-join on the bucket key — ~1/256 of brute-force candidates, same TakeOrdered tail.")

  /** q49 — embedding-cosine near-duplicate pairs, label-blocked and
    * cell-pruned. r1 ran an all-pairs join within each label — with 10
    * labels that is O(n²/10), a genuine quadratic at 100 TB. This form
    * is PROVABLY LOSSLESS blocked search via the spherical triangle
    * inequality:
    *
    *  1. assign every vector to its nearest of 8 deterministic seed
    *     centroids (one broadcast pass — the q52 IVF cell assignment,
    *     minus the cross-engine rounding it needs and we don't: the
    *     oracle never sees cells);
    *  2. per (label, cell), the angular radius r = max θ(member,
    *     centroid) in one narrow agg;
    *  3. a pair with θ(a,b) ≤ θt spanning cells (ci, cj) forces
    *     θ(ci,cj) ≤ ri + rj + θt (two triangle hops through a and b) —
    *     so cell PAIRS failing that bound are pruned wholesale, and
    *     only surviving cell pairs are exact-scored, each as its own
    *     equi-join key (label, ca, cb): a heavy cell pair is one task's
    *     bounded product, not one giant per-label task.
    *
    * The ORACLE stays the quadratic all-pairs form: a green row proves
    * the pruning lossless, not just plausible (the q66 banding design).
    * On clustered corpora — which is what near-dup data IS (dup
    * clusters are tight cones) — the bound collapses the grid to
    * near-diagonal cell pairs; on isotropic random data (this testdata)
    * no exact method can beat the blocked quadratic (curse of
    * dimensionality — the approximate recall<1 paths are q48/q52), and
    * this plan degrades to exactly the r1 candidate set but spread
    * across the cell-pair grid instead of serialized per label.
    */
  /** The q49 pair pipeline, factored so q106 composes on it: label-
    * blocked exact cosine near-dup pairs (score ≥ 0.4 at 4dp, oriented
    * vec_a < vec_b), cell-pruned per the q49 Scaladoc. Unordered.
    */
  private[similarity] def embeddingNearDupPairs(s: SparkSession,
                                                dir: String): DataFrame =
    embeddingNearDupPairsOver(celledOf(s, dir, withSimq = false),
      centsOf(s, dir))

  /** The 8 seed centroid vectors off the raw parquet scan — a trivial
    * pushed-filter read. The pair pipeline's centroid-angle grid reads
    * THIS, not the cached celled frame: an 8-row broadcast built from
    * the corpus-sized cache would serialize the full cache fill into
    * the broadcast build (measured +19% on q49 when tried — r13).
    */
  private[similarity] def centsOf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    emb(s, dir).filter($"vec_id" >= 8 && $"vec_id" < 16)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"))
  }

  /** The one corpus×centroid scoring pass, CACHED: per-vector nearest
    * cell + own-centroid angle (the q49 pruning inputs) and — when
    * `withSimq` — the quantized own-centroid similarity (q106's
    * election key) off the SAME crossJoin+groupBy. q106 used to run
    * this corpus-sized pass twice (once inside the pair pipeline, once
    * for its election key): same 8-way broadcast product, same cosine
    * kernel, two scans and two cache fills (r13 fusion — guide §1.2/
    * §2.4: both argmaxes are aggregates over one pass's rows, so
    * computing them together removes a full corpus pass, not just an
    * exchange). Both the angle and sim6 reference one `c0` cosine
    * column; codegen subexpression elimination evaluates the kernel
    * once per (vector, centroid) row.
    */
  private[similarity] def celledOf(s: SparkSession, dir: String,
                                   withSimq: Boolean): DataFrame = {
      import s.implicits._
      val e = emb(s, dir).select($"vec_id", $"embedding", $"label")
      val cents = centsOf(s, dir)
      // Nearest-centroid cell + distance-to-own-centroid, no window:
      // min_by over the 8 broadcast centroids, one groupBy on vec_id.
      val scored = e.crossJoin(broadcast(cents))
        .withColumn("c0", cos(s, "embedding", "cvec"))
        .withColumn("th", acos(greatest(lit(-1.0), least(lit(1.0), $"c0"))))
      val aggs =
        Seq(first($"label").as("label"), first($"embedding").as("embedding"),
            min_by($"cid", struct($"th", $"cid")).as("cell"),
            min($"th").as("mth")) ++
        (if (withSimq)
           // q106's election key: argmax on (round 6dp, centroid-id
           // tiebreak) — the q52 assignment idiom, unchanged
           Seq(max(struct(round($"c0", 6).as("sim6"), (-$"cid").as("nc")))
             .as("w"))
         else Nil)
      scored.groupBy($"vec_id").agg(aggs.head, aggs.tail: _*).cache()
  }

  /** The q49 pair pipeline downstream of [[celledOf]] — cell stats,
    * reachable cell-pair grid, candidate join, exact verify.
    */
  private[similarity] def embeddingNearDupPairsOver(celled: DataFrame,
                                                    cents: DataFrame)
      : DataFrame = {
      val s = celled.sparkSession
      import s.implicits._
      val thetaT = math.acos(0.4) // score ≥ 0.4 ⟺ angle ≤ θt
      val eps = 1e-9              // float slack on the pruning bound only
      def theta(a: String, b: String): Column =
        acos(greatest(lit(-1.0), least(lit(1.0), cos(s, a, b))))
      val cellStats = celled.groupBy($"label", $"cell")
        .agg((max($"mth") + eps).as("r"))
      // 8×8 centroid angles (tiny), then the per-label reachable grid:
      // keep (ca ≤ cb) cell pairs whose centroid angle can be bridged.
      val cx = cents.select($"cid".as("ca"), $"cvec".as("va"))
      val cy = cents.select($"cid".as("cb"), $"cvec".as("vb"))
      val centAngles = cx.crossJoin(broadcast(cy))
        .select($"ca", $"cb", theta("va", "vb").as("cang"))
      val grid = cellStats.as("ga")
        .join(cellStats.as("gb"),
              $"ga.label" === $"gb.label" && $"ga.cell" <= $"gb.cell")
        .join(centAngles,
              $"ga.cell" === $"ca" && $"gb.cell" === $"cb")
        .filter($"cang" <= $"ga.r" + $"gb.r" + lit(thetaT + 1e-9))
        .select($"ga.label".as("glabel"), $"ca", $"cb")
      // Candidate join keyed by (label, cell-pair): same-cell pairs
      // orient by vec_id inside the cell; cross-cell pairs are unique
      // by (ca < cb) and get orientation-normalized on output.
      val pairs = celled.as("a")
        .join(broadcast(grid),
              $"a.label" === $"glabel" && $"a.cell" === $"ca")
        .join(celled.as("b"),
              $"b.label" === $"glabel" && $"b.cell" === $"cb" &&
              ($"ca" < $"cb" || $"a.vec_id" < $"b.vec_id"))
        .withColumn("score", round(cos(s, "a.embedding", "b.embedding"), 4))
        .filter($"score" >= 0.4)
      pairs.select(
          least($"a.vec_id", $"b.vec_id").as("vec_a"),
          greatest($"a.vec_id", $"b.vec_id").as("vec_b"),
          $"a.label".as("label"), $"score")
  }

  val q49 = Q(
    "q49_embedding_neardup",
    (s, dir) => embeddingNearDupPairs(s, dir)
      .orderBy(col("vec_a"), col("vec_b")),
    // Bounded oracle (VERDICT r9 item 2): the same label-blocked
    // all-pairs semantics, but norms precomputed once per vector and
    // the per-pair score via one vectorized list_dot_product instead
    // of a correlated 64-row UNNEST subquery evaluated twice per pair
    // (~300 s → ~13 s at sf1). list_dot_product on DOUBLE[] sums in
    // ascending index order — the identical double-precision operation
    // tree as the reference form, proven bit-identical at sf0.01/0.1
    // by tools/check_oracle_equiv.py (ORACLE_EQUIV.json).
    Some("""WITH e AS MATERIALIZED (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                               CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings),
      |s AS MATERIALIZED (
      |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
      |         ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS score
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
      |SELECT vec_a, vec_b, label, score FROM s WHERE score >= 0.4
      |ORDER BY vec_a, vec_b""".stripMargin),
    doc = "similarity: label-blocked cosine near-dup pairs. " +
      "Cell-blocked exact near-dup: broadcast centroid assignment, triangle-inequality cell-pair grid, candidate join keyed by (label, cell pair) — no label-wide cartesian.",
    oracleReference =
      Some(s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
        |       ROUND(${oCos("a.embedding", "b.embedding")}, 4) AS score
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE ROUND(${oCos("a.embedding", "b.embedding")}, 4) >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin))

  /** q52 — IVF-style approximate nearest neighbors (the coarse-
    * quantization scale path, complementing q48's hash-based LSH):
    * partition vectors into cells by nearest centroid, then search a
    * probe only in its `nprobe`=2 closest cells. At 100 TB the cell
    * assignment is one broadcast-scored pass (centroid count ≪ data),
    * the index is just a `cell_id` column to partition/bucket by, and a
    * query touches nprobe/k of the data instead of all of it.
    *
    * Centroids here are a deterministic seed subset (vec_id 8..15) so
    * the DuckDB oracle reproduces the exact assignment; the production
    * trainer is [[KMeans.train]] (distributed spherical Lloyd's,
    * bit-deterministic) — the pipeline shape is identical (the
    * centroid table is broadcast either way). Assignment scores round
    * to 6dp with a centroid-id tiebreak: bit-stable argmax across
    * engines.
    */
  /** The IVF candidate stage, factored for the nesting receipt: the
    * (query, candidate) pairs a probe scores when searching its
    * `nprobe` closest cells. Raising `nprobe` can only ADD pairs —
    * the rank filter `r <= nprobe` is a prefix of the same
    * deterministic cell ranking — so accuracy is tunable upward at
    * linear candidate cost (`KMeansSpec` pins the superset chain).
    */
  /** The full-corpus centroid assignment, ranked per vector by
    * closeness — the one corpus-sized IVF stage: r = 1 is the owning
    * cell, r ≤ nprobe the probe set. Factored so a multi-level
    * consumer (q126) computes it ONCE behind a barrier instead of
    * once per nprobe level.
    */
  private[graft] def ivfRankedCells(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = emb(s, dir)
    val cents = e.filter($"vec_id" >= 8 && $"vec_id" < 16)
      .select($"vec_id".as("cid"), $"embedding".as("cvec"))
    val byVec = Window.partitionBy($"vec_id")
      .orderBy($"cscore".desc, $"cid")
    e.crossJoin(broadcast(cents))
      .withColumn("cscore", round(cos(s, "embedding", "cvec"), 6))
      .withColumn("r", row_number().over(byVec))
      .select($"cid", $"vec_id", $"embedding", $"r")
  }

  /** [[ivfCandidates]] off an already-materialized ranked-cells frame. */
  private[graft] def ivfCandidatesOf(rc: DataFrame, nprobe: Int): DataFrame = {
    val s = rc.sparkSession
    import s.implicits._
    val cells = rc.filter($"r" === 1).select($"cid", $"vec_id", $"embedding")
    val probes = rc.filter($"vec_id" < 8 && $"r" <= nprobe)
      .select($"cid", $"vec_id".as("query_id"), $"embedding".as("qvec"))
    cells.join(broadcast(probes), Seq("cid"))
      .filter($"vec_id" =!= $"query_id")
  }

  private[graft] def ivfCandidates(s: SparkSession, dir: String,
                                   nprobe: Int): DataFrame =
    ivfCandidatesOf(ivfRankedCells(s, dir), nprobe)

  /** q52 body with the knobs exposed; the registered query runs the
    * defaults the DuckDB oracle mirrors.
    */
  private[graft] def ivfAnn(s: SparkSession, dir: String,
                            nprobe: Int = 2, topK: Int = 5): DataFrame = {
    import s.implicits._
    val cands = ivfCandidates(s, dir, nprobe)
      .withColumn("score", round(cos(s, "qvec", "embedding"), 4))
    val w = Window.partitionBy($"query_id")
      .orderBy($"score".desc, $"vec_id")
    cands
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= topK)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"score", $"rank")
      .orderBy($"query_id", $"rank")
  }

  val q52 = Q(
    "q52_ivf_ann",
    (s, dir) => ivfAnn(s, dir),
    Some(s"""WITH cents AS (
      |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      |  WHERE vec_id >= 8 AND vec_id < 16),
      |assigned AS (
      |  SELECT e.vec_id, e.embedding, c.cid,
      |         ROUND(${oCos("e.embedding", "c.cvec")}, 6) AS cscore
      |  FROM embeddings e CROSS JOIN cents c),
      |ranked_cells AS (
      |  SELECT vec_id, embedding, cid,
      |         ROW_NUMBER() OVER (PARTITION BY vec_id
      |           ORDER BY cscore DESC, cid) AS r
      |  FROM assigned),
      |cells AS (
      |  SELECT cid, vec_id, embedding FROM ranked_cells WHERE r = 1),
      |probes AS (
      |  SELECT cid, vec_id AS query_id, embedding AS qvec
      |  FROM ranked_cells WHERE vec_id < 8 AND r <= 2),
      |cands AS (
      |  SELECT p.query_id, e.vec_id AS neighbor_id,
      |         ROUND(${oCos("p.qvec", "e.embedding")}, 4) AS score
      |  FROM cells e JOIN probes p ON e.cid = p.cid
      |  WHERE e.vec_id <> p.query_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, score,
      |         ROW_NUMBER() OVER (PARTITION BY query_id
      |           ORDER BY score DESC, neighbor_id) AS rank
      |  FROM cands)
      |SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin),
    doc = "similarity: IVF coarse-quantization ANN (nprobe=2, broadcast centroids). " +
      "Centroids broadcast for assignment; nprobe cells bound the candidate scan; the candidate join is an equi-join on cell id.")

  /** q106 — semantic dedup with survivor election (the SemDeDup shape,
    * Abbas et al. 2023): embedding-space near-dup CLUSTERS (q49's exact
    * label-blocked pairs → connected components) resolved to one kept
    * vector each, keeping the member LEAST similar to its assigned
    * centroid — the paper's rule: among semantic duplicates, the one
    * farthest from the cluster centroid carries the most marginal
    * information, so it survives and the redundant near-centroid copies
    * drop. Per-label accounting of kept/dropped is what a curation run
    * audits before committing the drop.
    *
    * Determinism: the election key is the centroid similarity QUANTIZED
    * to a long (round 6dp → ×10⁶ → round 0) with a vec_id tiebreak —
    * both engines compute the same sequential-double cosine, so the
    * quantized key is identical and the elected survivor cannot drift.
    * `kept_simq_sum` exposes the election numerically (a wrong survivor
    * changes the sum, not just internal state) as an exact long sum.
    *
    * Scale design: pairs come from the cell-pruned q49 pipeline (never
    * all-pairs); components via [[graft.text.TextQueries.componentLabels]]
    * (log-round min-label propagation with shortcuts, edge list barriered — the
    * q100 stance); centroid similarity is one broadcast-scored pass
    * (8 centroids ≪ data); the election is min(struct) — map-side
    * combinable, no per-cluster window (a viral semantic cluster stays
    * O(1) per map partition); membership joins back on the cluster
    * label — equi-join, AQE-skew-splittable.
    */
  val q106 = Q(
    "q106_semantic_dedup",
    (s, dir) => {
      import s.implicits._
      // ONE corpus×centroid pass (r13 fusion — see [[celledOf]]):
      // the cell assignment the pair pipeline prunes by AND the
      // quantized election similarity ride the same cached aggregate;
      // q106 used to pay this corpus-sized pass twice.
      val celled = celledOf(s, dir, withSimq = true)
      val simqed = celled.select($"vec_id", $"label",
        expr("cast(round(w.sim6 * 1000000, 0) as bigint)").as("simq"))
      val edges = graft.Barrier(
        embeddingNearDupPairsOver(celled, centsOf(s, dir))
          .select($"vec_a".as("doc_a"), $"vec_b".as("doc_b")))
      val labeled = simqed
        .join(graft.text.TextQueries.componentLabels(edges)
            .withColumnRenamed("node", "vec_id"),
          Seq("vec_id"), "left_outer")
        .select($"vec_id", $"label", $"simq",
          coalesce($"lab", $"vec_id").as("lab"))
      // Election WITHOUT the corpus-sized join-back (r14 — the q100
      // payload trick, guide §2.4): q49 edges are label-blocked
      // (both endpoints of every pair share `label`), so a connected
      // component never spans labels and `label` is CONSTANT within
      // each lab group (singletons trivially so). The per-label
      // ledger therefore folds from the per-cluster aggregate
      // directly — each cluster keeps exactly one member (its min
      // (simq, vec_id) struct, which also carries the kept simq), so
      // n_kept = cluster count and the old labeled⋈keep join (plus
      // its second pass over the unbarriered labeled frame and the
      // keep exchange) is gone. Exact long arithmetic throughout —
      // oracle SQL untouched, the hash gate proves value identity.
      val perLab = labeled.groupBy($"lab")
        .agg(first($"label").as("label"), count(lit(1)).as("n"),
          min(struct($"simq", $"vec_id")).as("w"))
      perLab.groupBy($"label")
        .agg(sum($"n").as("n_vecs"),
          count(lit(1)).as("n_kept"),
          sum($"w.simq").as("kept_simq_sum"))
        .withColumn("n_dropped", $"n_vecs" - $"n_kept")
        .select($"label", $"n_vecs", $"n_kept", $"n_dropped",
          $"kept_simq_sum")
        .orderBy($"label")
    },
    // Bounded oracle (VERDICT r9 item 2): same semantics as the
    // reference form below, with (a) vectorized dot products off a
    // precomputed (v, nrm) frame — identical double operation tree,
    // proven bit-identical by tools/check_oracle_equiv.py — and (b)
    // MATERIALIZED non-recursive CTEs: DuckDB inlines CTEs by default,
    // and the multiply-referenced pair/celled pipelines re-planned the
    // all-pairs join several times over (the 40 GiB spill at sf1 was
    // plan duplication, not data).
    Some("""WITH RECURSIVE ev AS MATERIALIZED (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
      |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                               CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings),
      |cents AS MATERIALIZED (
      |  SELECT vec_id AS cid, v AS cvec, nrm AS cnrm FROM ev
      |  WHERE vec_id >= 8 AND vec_id < 16),
      |scoredc AS MATERIALIZED (
      |  SELECT e.vec_id, e.label, c.cid,
      |         ROUND(list_dot_product(e.v, c.cvec) / (e.nrm * c.cnrm), 6) AS sim6
      |  FROM ev e CROSS JOIN cents c),
      |celled AS MATERIALIZED (
      |  SELECT vec_id, label, CAST(ROUND(sim6 * 1000000, 0) AS BIGINT) AS simq
      |  FROM (SELECT vec_id, label, sim6,
      |               ROW_NUMBER() OVER (PARTITION BY vec_id
      |                 ORDER BY sim6 DESC, cid ASC) AS rn
      |        FROM scoredc) WHERE rn = 1),
      |pairs AS MATERIALIZED (
      |  SELECT a.vec_id AS va, b.vec_id AS vb
      |  FROM ev a JOIN ev b
      |    ON a.label = b.label AND a.vec_id < b.vec_id
      |  WHERE ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) >= 0.4),
      |sym AS MATERIALIZED (SELECT va AS a, vb AS b FROM pairs
      |        UNION ALL SELECT vb, va FROM pairs),
      |closure(node, reach) AS (
      |  SELECT DISTINCT a, a FROM sym
      |  UNION
      |  SELECT c.node, s.b FROM closure c JOIN sym s ON s.a = c.reach),
      |roots AS (SELECT node, MIN(reach) AS lab FROM closure GROUP BY node),
      |labs AS MATERIALIZED (
      |  SELECT cl.vec_id, cl.label, cl.simq, COALESCE(r.lab, cl.vec_id) AS lab
      |  FROM celled cl LEFT JOIN roots r ON cl.vec_id = r.node),
      |keep AS (
      |  SELECT lab, vec_id AS keep_vec FROM (
      |    SELECT lab, vec_id,
      |           ROW_NUMBER() OVER (PARTITION BY lab
      |             ORDER BY simq ASC, vec_id ASC) AS rn
      |    FROM labs) WHERE rn = 1)
      |SELECT l.label, COUNT(*) AS n_vecs,
      |       CAST(COUNT(CASE WHEN l.vec_id = k.keep_vec THEN 1 END) AS BIGINT) AS n_kept,
      |       CAST(COUNT(CASE WHEN l.vec_id <> k.keep_vec THEN 1 END) AS BIGINT) AS n_dropped,
      |       CAST(COALESCE(SUM(CASE WHEN l.vec_id = k.keep_vec THEN l.simq END), 0) AS BIGINT) AS kept_simq_sum
      |FROM labs l JOIN keep k ON l.lab = k.lab
      |GROUP BY 1 ORDER BY 1""".stripMargin),
    oracleReference = Some(s"""WITH RECURSIVE cents AS (
      |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      |  WHERE vec_id >= 8 AND vec_id < 16),
      |scoredc AS (
      |  SELECT e.vec_id, e.label, c.cid,
      |         ROUND(${oCos("e.embedding", "c.cvec")}, 6) AS sim6
      |  FROM embeddings e CROSS JOIN cents c),
      |celled AS (
      |  SELECT vec_id, label, CAST(ROUND(sim6 * 1000000, 0) AS BIGINT) AS simq
      |  FROM (SELECT vec_id, label, sim6,
      |               ROW_NUMBER() OVER (PARTITION BY vec_id
      |                 ORDER BY sim6 DESC, cid ASC) AS rn
      |        FROM scoredc) WHERE rn = 1),
      |pairs AS (
      |  SELECT a.vec_id AS va, b.vec_id AS vb
      |  FROM embeddings a JOIN embeddings b
      |    ON a.label = b.label AND a.vec_id < b.vec_id
      |  WHERE ROUND(${oCos("a.embedding", "b.embedding")}, 4) >= 0.4),
      |sym AS (SELECT va AS a, vb AS b FROM pairs
      |        UNION ALL SELECT vb, va FROM pairs),
      |closure(node, reach) AS (
      |  SELECT DISTINCT a, a FROM sym
      |  UNION
      |  SELECT c.node, s.b FROM closure c JOIN sym s ON s.a = c.reach),
      |roots AS (SELECT node, MIN(reach) AS lab FROM closure GROUP BY node),
      |labs AS (
      |  SELECT cl.vec_id, cl.label, cl.simq, COALESCE(r.lab, cl.vec_id) AS lab
      |  FROM celled cl LEFT JOIN roots r ON cl.vec_id = r.node),
      |keep AS (
      |  SELECT lab, vec_id AS keep_vec FROM (
      |    SELECT lab, vec_id,
      |           ROW_NUMBER() OVER (PARTITION BY lab
      |             ORDER BY simq ASC, vec_id ASC) AS rn
      |    FROM labs) WHERE rn = 1)
      |SELECT l.label, COUNT(*) AS n_vecs,
      |       CAST(COUNT(CASE WHEN l.vec_id = k.keep_vec THEN 1 END) AS BIGINT) AS n_kept,
      |       CAST(COUNT(CASE WHEN l.vec_id <> k.keep_vec THEN 1 END) AS BIGINT) AS n_dropped,
      |       CAST(COALESCE(SUM(CASE WHEN l.vec_id = k.keep_vec THEN l.simq END), 0) AS BIGINT) AS kept_simq_sum
      |FROM labs l JOIN keep k ON l.lab = k.lab
      |GROUP BY 1 ORDER BY 1""".stripMargin),
    doc = "similarity: SemDeDup-style semantic dedup — near-dup clusters elect the farthest-from-centroid survivor, per-label accounting. " +
      "SemDeDup: ONE corpus×centroid scoring pass (celledOf, r13 — the q49 cell assignment AND the election similarity off the same cached crossJoin+groupBy; it used to run twice); near-dup pairs bucketed by (label, cell) — no label-wide cartesian; survivor election is a struct-max per cluster, map-side combinable.")

  /** q108 — contrastive-pair mining for embedding-model training: for
    * each anchor (a deterministic 1-in-25 sample), the best POSITIVE
    * (nearest same-label neighbor) and the best HARD NEGATIVE (nearest
    * different-label neighbor — the pair that does the work in a
    * contrastive loss; random negatives are trivially separable).
    *
    * Scale shape: the anchor set is the bounded side — broadcast it and
    * stream the corpus ONCE past the codegen'd cosine; the per
    * (anchor, pair_type) argmax is a struct-max aggregate (map-side
    * combinable, no window, no corpus shuffle), so output is 2·|anchors|
    * rows regardless of corpus size. At 100 TB with a large anchor set
    * the same plan shards the anchors into broadcast-sized slices; the
    * q48/q52 LSH/IVF buckets are the candidate-pruned variant.
    * Tie-break: highest score, then smallest neighbor id (the struct
    * max negates vec_id so both engines elect identically).
    */
  val q108 = Q(
    "q108_contrastive_pairs",
    (s, dir) => {
      import s.implicits._
      val e = emb(s, dir)
      val anchors = e.filter($"vec_id" % 25 === 0)
        .select($"vec_id".as("query_id"), $"embedding".as("qvec"),
          $"label".as("qlabel"))
      e.crossJoin(broadcast(anchors))
        .filter($"vec_id" =!= $"query_id")
        .withColumn("score", round(cos(s, "qvec", "embedding"), 4))
        .withColumn("pair_type",
          when($"label" === $"qlabel", "pos").otherwise("neg"))
        .groupBy($"query_id", $"pair_type")
        .agg(max(struct($"score", (-$"vec_id").as("nid"))).as("best"))
        .select($"query_id", $"pair_type",
          (-$"best.nid").as("neighbor_id"), $"best.score".as("score"))
        .orderBy($"query_id", $"pair_type")
    },
    Some(s"""WITH anchors AS (
      |  SELECT vec_id AS query_id, embedding AS qvec, label AS qlabel
      |  FROM embeddings WHERE vec_id % 25 = 0),
      |scored AS (
      |  SELECT a.query_id,
      |         CASE WHEN e.label = a.qlabel THEN 'pos' ELSE 'neg' END AS pair_type,
      |         e.vec_id AS neighbor_id,
      |         ROUND(${oCos("a.qvec", "e.embedding")}, 4) AS score
      |  FROM embeddings e CROSS JOIN anchors a
      |  WHERE e.vec_id <> a.query_id),
      |ranked AS (
      |  SELECT query_id, pair_type, neighbor_id, score,
      |         ROW_NUMBER() OVER (PARTITION BY query_id, pair_type
      |           ORDER BY score DESC, neighbor_id) AS rn
      |  FROM scored)
      |SELECT query_id, pair_type, neighbor_id, score
      |FROM ranked WHERE rn = 1
      |ORDER BY query_id, pair_type""".stripMargin),
    doc = "similarity: contrastive positive + hard-negative mining per anchor — broadcast anchors, one corpus pass, struct-max argmax. " +
      "Contrastive mining: bounded anchor set broadcast, corpus streams ONCE past the codegen'd cosine; per-(anchor,pair_type) argmax is a struct-max aggregate — map-side combinable, output 2·|anchors| rows, no corpus shuffle, no window.")

  /** q126 — measured IVF recall curve: recall@5 of the q52 coarse-
    * quantization ANN against the q47 brute-force ground truth, for
    * nprobe ∈ {1, 2, 4, 8} — the ANN-family twin of q123's LSH
    * S-curve audit, and the artifact to read before turning the q52
    * nprobe knob. nprobe = 8 probes every cell, so its recall is
    * 10⁶ by construction (the built-in sanity row); the curve is
    * monotone because raising nprobe only ever ADDS candidates
    * (the ivfCandidates nesting contract, KMeansSpec).
    *
    * Scale design: ONE corpus-sized scoring pass serves the ground
    * truth AND every level. With k centroids, each candidate's owning
    * cell has some probe rank 1..k for every query, so scoring the
    * (cell ⋈ probe-rank) join covers the brute-force pair set exactly
    * once, tagged with probe_r; because the levels are NESTED (the
    * ivfCandidates contract — raising nprobe only adds candidates),
    * each level is a probe_r filter over the barriered scores, and
    * the exact ground truth is the unfiltered top-5 of the same
    * scores. Everything downstream of the per-query top-5 windows is
    * a handful of rows.
    */
  val q126 = Q(
    "q126_ivf_recall_curve",
    (s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"query_id")
        .orderBy($"score".desc, $"vec_id")
      def top5(cands: DataFrame): DataFrame = cands
        .withColumn("rank", row_number().over(w)).filter($"rank" <= 5)
        .select($"query_id", $"vec_id".as("neighbor_id"))
      // ONE corpus-sized pass total: with k centroids every cell holds
      // SOME probe rank 1..k for every query, so scoring every
      // (candidate-cell ⋈ probe-rank) pair covers the full brute-force
      // pair set exactly once — tagged with probe_r, the cell's rank
      // for that query. The levels are NESTED (raising nprobe only
      // adds candidates), so each level is a filter on probe_r over
      // this barriered frame, and the exact ground truth is the
      // unfiltered top-5 of the very same scores.
      val rc = graft.Barrier(ivfRankedCells(s, dir))
      val cells = rc.filter($"r" === 1)
        .select($"cid", $"vec_id", $"embedding")
      val probeRanks = rc.filter($"vec_id" < 8)
        .select($"cid", $"vec_id".as("query_id"),
          $"embedding".as("qvec"), $"r".as("probe_r"))
      val scored = graft.Barrier(
        cells.join(broadcast(probeRanks), Seq("cid"))
          .filter($"vec_id" =!= $"query_id")
          .withColumn("score", round(cos(s, "qvec", "embedding"), 4))
          .select($"query_id", $"vec_id", $"score", $"probe_r"))
      val exact = graft.Barrier(top5(scored))
      val nExact = exact.agg(count(lit(1)).as("n_exact"))
      val levels = Seq(1, 2, 4, 8).map { p =>
        top5(scored.filter($"probe_r" <= p))
          .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hits"))
          .select(lit(p).as("nprobe"), $"n_hits")
      }
      levels.reduce(_ unionByName _)
        .crossJoin(broadcast(nExact))
        .select($"nprobe", $"n_exact", $"n_hits",
          expr("n_hits * 1000000L div n_exact").as("recall_q"))
        .orderBy($"nprobe")
    },
    Some(s"""WITH cents AS (
      |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      |  WHERE vec_id >= 8 AND vec_id < 16),
      |assigned AS (
      |  SELECT e.vec_id, e.embedding, c.cid,
      |         ROUND(${oCos("e.embedding", "c.cvec")}, 6) AS cscore
      |  FROM embeddings e CROSS JOIN cents c),
      |rc AS (
      |  SELECT vec_id, embedding, cid,
      |         ROW_NUMBER() OVER (PARTITION BY vec_id
      |           ORDER BY cscore DESC, cid) AS r
      |  FROM assigned),
      |cells AS (SELECT cid, vec_id, embedding FROM rc WHERE r = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, embedding AS qvec
      |  FROM embeddings WHERE vec_id < 8),
      |exact AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT p.query_id, e.vec_id AS neighbor_id,
      |           ROW_NUMBER() OVER (PARTITION BY p.query_id
      |             ORDER BY ROUND(${oCos("p.qvec", "e.embedding")}, 4) DESC,
      |                      e.vec_id) AS rank
      |    FROM embeddings e CROSS JOIN probes p
      |    WHERE e.vec_id <> p.query_id)
      |  WHERE rank <= 5),
      |grid AS (SELECT UNNEST([1, 2, 4, 8]) AS nprobe),
      |pr AS (
      |  SELECT g.nprobe, rc.cid, rc.vec_id AS query_id,
      |         rc.embedding AS qvec
      |  FROM rc JOIN grid g ON rc.r <= g.nprobe
      |  WHERE rc.vec_id < 8),
      |ivf5 AS (
      |  SELECT nprobe, query_id, neighbor_id FROM (
      |    SELECT pr.nprobe, pr.query_id, e.vec_id AS neighbor_id,
      |           ROW_NUMBER() OVER (PARTITION BY pr.nprobe, pr.query_id
      |             ORDER BY ROUND(${oCos("pr.qvec", "e.embedding")}, 4) DESC,
      |                      e.vec_id) AS rank
      |    FROM cells e JOIN pr ON e.cid = pr.cid
      |    WHERE e.vec_id <> pr.query_id)
      |  WHERE rank <= 5),
      |hits AS (
      |  SELECT nprobe, COUNT(*) AS n_hits
      |  FROM ivf5 JOIN exact USING (query_id, neighbor_id) GROUP BY 1),
      |ne AS (SELECT COUNT(*) AS n_exact FROM exact)
      |SELECT g.nprobe, (SELECT n_exact FROM ne) AS n_exact,
      |       COALESCE(h.n_hits, 0) AS n_hits,
      |       COALESCE(h.n_hits, 0) * 1000000 // (SELECT n_exact FROM ne) AS recall_q
      |FROM grid g LEFT JOIN hits h USING (nprobe)
      |ORDER BY g.nprobe""".stripMargin),
    doc = "similarity: measured IVF recall@5 vs brute force by nprobe — the ANN-family S-curve audit. " +
      "IVF recall audit: ONE corpus-sized scoring pass serves ground truth and all four nprobe levels — every (cell, probe-rank) pair scored once behind a barrier, each level a probe_r filter (the nested-candidates contract), the exact top-5 the unfiltered ranking of the same scores.")

  /** The corpus in symmetric per-vector int8 form: `q[i] =
    * round(x[i] · 127 / max|x|)` ∈ [−127, 127], plus the integer
    * squared norm. Zero vectors quantize to zeros (guarded — no
    * divide-by-zero NaN). The two `.cache()` calls are CollapseProject
    * barriers, not persistence for reuse: without the first, `scale`
    * (an O(dim) aggregate) inlines into the per-element quantization
    * lambda and recomputes per COMPONENT (64×); without the second,
    * the quantized arrays inline into the scoring join and recompute
    * per PAIR (the q45/q51 precedent) -- graft.Barrier rather than a
    * raw cache so the storage strategy follows the session conf and
    * Verify/Bench release the frames between queries.
    */
  private[similarity] def int8Quantized(e: DataFrame): DataFrame = {
    val withScale = graft.Barrier(e.select(col("vec_id"), col("embedding"),
      expr("aggregate(transform(embedding, x -> abs(cast(x as double)))," +
        " 0.0d, (a, x) -> greatest(a, x))").as("scale")))
    graft.Barrier(withScale.select(col("vec_id"),
        expr("""CASE WHEN scale = 0.0d
          | THEN transform(embedding, x -> 0L)
          | ELSE transform(embedding,
          |   x -> cast(round(cast(x as double) * 127.0d / scale) as long))
          | END""".stripMargin).as("q"))
      .withColumn("n2",
        expr("aggregate(transform(q, x -> x * x), 0L, (a, x) -> a + x)")))
  }

  /** q131 — int8-quantized similarity search: the memory-bandwidth
    * scale path for embedding retrieval. At 100 TB the embedding
    * column dominates scan cost; symmetric int8 quantization cuts it
    * 4× and turns the scoring inner loop into INTEGER dot products —
    * exact longs, no float accumulation order to disagree about, so
    * the whole coarse ranking is hash-verifiable cross-engine (the
    * same reason the text side ranks on quantized integers). Top-k is
    * ranked on the QUANTIZED score; the full-precision cosine is then
    * computed for the k winners only — the classic
    * coarse-score-then-rerank shape, with the expensive float pass
    * touching 40 rows instead of the corpus.
    *
    * Determinism: quantization is one IEEE double expression both
    * engines evaluate bit-identically (cast-widen, multiply, divide,
    * HALF_UP round); dot and norms are exact integers (|q|≤127, 64
    * dims → dot ≤ 1.04e6, n2·n2 ≤ 1.1e12 < 2⁵³, so the final
    * `dot/√(n2a·n2b)` divides exact doubles); ranking rounds to 4dp
    * with a vec_id tie-break (the q47 convention).
    */
  val q131 = Q(
    "q131_quantized_ann",
    (s, dir) => {
      import s.implicits._
      val qv = int8Quantized(emb(s, dir))
      val probes = qv.filter($"vec_id" < 8)
        .select($"vec_id".as("query_id"), $"q".as("qq"), $"n2".as("qn2"))
      val topk = qv.crossJoin(broadcast(probes))
        .filter($"vec_id" =!= $"query_id")
        .withColumn("dot",
          expr("aggregate(zip_with(q, qq, (x, y) -> x * y), 0L, (a, x) -> a + x)"))
        .withColumn("q8_score", expr(
          """CASE WHEN n2 = 0 OR qn2 = 0 THEN 0.0d
            | ELSE round(cast(dot as double) / sqrt(cast(n2 * qn2 as double)), 4)
            | END""".stripMargin))
        .withColumn("rank", row_number().over(
          Window.partitionBy($"query_id").orderBy($"q8_score".desc, $"vec_id")))
        .filter($"rank" <= 5)
        .select($"query_id", $"vec_id".as("neighbor_id"), $"q8_score", $"rank")
      // full-precision rerank pass touches only the k winners: join the
      // float vectors back for 8×5 rows, not the corpus
      val e = emb(s, dir)
      topk
        .join(e.select($"vec_id".as("neighbor_id"), $"embedding".as("nvec")),
          Seq("neighbor_id"))
        .join(broadcast(e.filter($"vec_id" < 8)
          .select($"vec_id".as("query_id"), $"embedding".as("qvec"))),
          Seq("query_id"))
        .withColumn("exact_score", round(cos(s, "qvec", "nvec"), 4))
        .select($"query_id", $"neighbor_id", $"q8_score", $"exact_score", $"rank")
        .orderBy($"query_id", $"rank")
    },
    Some(s"""WITH base AS (
      |  SELECT vec_id, embedding,
      |         (SELECT MAX(abs(CAST(x AS DOUBLE)))
      |          FROM UNNEST(embedding) AS t(x)) AS scale
      |  FROM embeddings),
      |qv AS (
      |  SELECT vec_id,
      |         CASE WHEN scale = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
      |              ELSE list_transform(embedding,
      |                x -> CAST(round(CAST(x AS DOUBLE) * 127 / scale) AS BIGINT))
      |         END AS q
      |  FROM base),
      |nq AS (
      |  SELECT vec_id, q,
      |         (SELECT SUM(q[i] * q[i])
      |          FROM UNNEST(generate_series(1, 64)) AS g(i)) AS n2
      |  FROM qv),
      |probes AS (
      |  SELECT vec_id AS query_id, q AS qq, n2 AS qn2 FROM nq WHERE vec_id < 8),
      |scored AS (
      |  SELECT p.query_id, e.vec_id,
      |         (SELECT SUM(e.q[i] * p.qq[i])
      |          FROM UNNEST(generate_series(1, 64)) AS g(i)) AS dot,
      |         e.n2, p.qn2
      |  FROM nq e CROSS JOIN probes p WHERE e.vec_id <> p.query_id),
      |ranked AS (
      |  SELECT query_id, vec_id,
      |         CASE WHEN n2 = 0 OR qn2 = 0 THEN 0.0
      |              ELSE round(CAST(dot AS DOUBLE) / sqrt(CAST(n2 * qn2 AS DOUBLE)), 4)
      |         END AS q8_score,
      |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
      |           CASE WHEN n2 = 0 OR qn2 = 0 THEN 0.0
      |                ELSE round(CAST(dot AS DOUBLE) / sqrt(CAST(n2 * qn2 AS DOUBLE)), 4)
      |           END DESC, vec_id) AS rank
      |  FROM scored)
      |SELECT r.query_id, r.vec_id AS neighbor_id, r.q8_score,
      |       ROUND(${oCos("qe.embedding", "ne.embedding")}, 4) AS exact_score,
      |       CAST(r.rank AS INT) AS rank
      |FROM ranked r
      |JOIN embeddings ne ON ne.vec_id = r.vec_id
      |JOIN embeddings qe ON qe.vec_id = r.query_id
      |WHERE r.rank <= 5
      |ORDER BY r.query_id, r.rank""".stripMargin),
    doc = "similarity: symmetric int8 quantization, exact integer dot-product coarse rank, float rerank on the k winners only. " +
      "Int8-quantized ANN: quantization materialized behind two Barriers (CollapseProject would otherwise inline the scale aggregate per COMPONENT and the quantized arrays per PAIR); coarse scoring is integer zip_with dot products against a broadcast 8-probe frame; the float cosine rerank touches only the 40 winners.")

  /** q142 — simplified-silhouette clustering audit over the `label`
    * assignment (Rousseeuw 1987's silhouette with the per-point "a"/"b"
    * taken to CENTROIDS instead of all points — the O(n·k) form that
    * survives 100 TB; the O(n²) original cannot). Per label: vector
    * count, the exact integer SUM of quantized silhouettes (report the
    * sum, not a mean — no cross-engine division), and how many points
    * sit closer to a foreign centroid than their own (negative
    * silhouette = candidate misassignment). The audit a user runs on
    * [[KMeans]]/IVF output before trusting cells for routing or
    * SemDeDup pruning.
    *
    * Exactness: components quantize to floor((x+1)·10⁶) AFTER a
    * double cast — the +1 shift keeps every integer non-negative,
    * because Spark's `div` truncates toward zero while DuckDB's `//`
    * floors and they only agree on non-negative operands (the shift
    * cancels inside every distance difference). Distances are integer
    * squared-L2; the silhouette quotient is sign-split so each
    * division runs on non-negative operands.
    *
    * Scale shape: one explode to (label, d) partial sums for the
    * centroid table (k·64 rows, map-side combinable), centroids
    * broadcast back as ordered arrays, per-(vector, centroid) distance
    * via a fused zip_with/aggregate lambda (no second explode), then
    * two narrow aggregates (per vector, per label). Nothing bigger
    * than rows·k ever shuffles.
    */
  /** [[q142]]'s pipeline over an in-memory embeddings frame (vec_id,
    * embedding, label) — spec fixtures pin the sign semantics (tight
    * clusters → positive sums, a point parked on a foreign centroid →
    * counted negative).
    */
  private[graft] def silhouetteOf(embDf: DataFrame): DataFrame = {
      val s = embDf.sparkSession
      import s.implicits._
      val e = graft.Barrier(embDf.select($"vec_id", $"label",
        expr("transform(embedding, x -> cast(floor((cast(x as double) + 1.0d) * 1000000) as bigint))")
          .as("q")))
      val cents = e.select($"label".as("clabel"), posexplode($"q").as(Seq("d", "v")))
        .groupBy($"clabel", $"d")
        .agg(expr("sum(v) div count(*)").as("c"))
        .groupBy($"clabel")
        .agg(expr("transform(sort_array(collect_list(struct(d, c))), s -> s.c)")
          .as("carr"))
      val ab = e.crossJoin(broadcast(cents))
        .withColumn("dist2", expr(
          "aggregate(zip_with(q, carr, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"))
        .groupBy($"vec_id", $"label")
        .agg(min(when($"clabel" === $"label", $"dist2")).as("a"),
          min(when($"clabel" =!= $"label", $"dist2")).as("b"))
      val sil = ab.withColumn("sil_q",
        when($"b" >= $"a", expr("(b - a) * 10000 div greatest(b, 1)"))
          .otherwise(-expr("(a - b) * 10000 div greatest(a, 1)")))
      sil.groupBy($"label")
        .agg(count(lit(1)).as("n_vecs"),
          sum($"sil_q").as("sum_sil_q"),
          count_if($"sil_q" < 0).as("n_negative"))
        .orderBy($"label")
  }

  val q142 = Q(
    "q142_silhouette",
    (s, dir) => silhouetteOf(emb(s, dir)),
    Some("""WITH q AS (
      |  SELECT vec_id, label, i.i AS d,
      |         CAST(floor((CAST(embedding[i.i] AS DOUBLE) + 1.0) * 1000000) AS BIGINT) AS v
      |  FROM embeddings CROSS JOIN (SELECT UNNEST(generate_series(1, 64)) AS i) i),
      |cent AS (
      |  SELECT label AS clabel, d, CAST(SUM(v) // COUNT(*) AS BIGINT) AS c
      |  FROM q GROUP BY 1, 2),
      |dist AS (
      |  SELECT q.vec_id, q.label, cent.clabel,
      |         CAST(SUM((q.v - cent.c) * (q.v - cent.c)) AS BIGINT) AS dist2
      |  FROM q JOIN cent ON q.d = cent.d
      |  GROUP BY 1, 2, 3),
      |ab AS (
      |  SELECT vec_id, label,
      |         MIN(CASE WHEN clabel = label THEN dist2 END) AS a,
      |         MIN(CASE WHEN clabel <> label THEN dist2 END) AS b
      |  FROM dist GROUP BY 1, 2),
      |sil AS (
      |  SELECT vec_id, label,
      |         CASE WHEN b >= a THEN (b - a) * 10000 // GREATEST(b, 1)
      |              ELSE -((a - b) * 10000 // GREATEST(a, 1)) END AS sil_q
      |  FROM ab)
      |SELECT label, COUNT(*) AS n_vecs,
      |       CAST(SUM(sil_q) AS BIGINT) AS sum_sil_q,
      |       CAST(COUNT(CASE WHEN sil_q < 0 THEN 1 END) AS BIGINT) AS n_negative
      |FROM sil GROUP BY label ORDER BY label""".stripMargin),
    doc = "similarity: simplified-silhouette audit of the label clustering (integer-exact, centroid-based). " +
      "Simplified silhouette from centroid algebra: per-dimension explode -> two narrow aggregates (per vector, per label) with quantized-exact integers — nothing larger than rows x k shuffles; no all-pairs distances.")

  val all: Seq[Q] = Seq(q47, q48, q49, q52, q106, q108, q126, q131, q142)
}
