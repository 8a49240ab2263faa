package graft.similarity

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Label-centroid geometry audit — the embedding-space health check
  * run before anyone trusts q52's IVF cells or q106's semantic dedup:
  * compute each label's centroid and the full pairwise
  * centroid-cosine matrix. Collapsed centroids (cosine → 1) mean the
  * labels are not separable in this space and every downstream
  * cluster-keyed operator inherits the confusion; it is also the
  * drift probe between two embedding versions.
  *
  * Exactness: per-dimension sums of floats are order-sensitive, so
  * each component is QUANTIZED once — qv = ⌊v·2²⁰ + 1/2⌋ as a long
  * (floor is IEEE-exact; no round(), whose half-way rule differs
  * across engines) — and summed exactly; centroid components are one
  * IEEE division each; the 64-term dot/norm reductions run as
  * ordered left-folds by dimension (the q222 association
  * discipline). sqrt is correctly rounded.
  *
  * Scale shape: ONE pass explodes vectors to (label, dim) cells —
  * map-side combinable to a 10×64 frame behind a Barrier; the 45-pair
  * cosine matrix is constant-size epilogue. At 100 TB only the
  * explode-aggregate touches the corpus.
  */
object CentroidShift {

  val Dims = 64
  /** Quantization scale 2²⁰ — exact in doubles up to |v| < 2⁴³. */
  val Scale = 1048576L

  val q261 = Q(
    "q261_centroid_cosine",
    (s, dir) => {
      import s.implicits._
      val cells = graft.Barrier(Tables.load(s, dir, "embeddings")
        .select($"label", posexplode($"embedding").as(Seq("d", "v")))
        .groupBy($"label", $"d")
        .agg(sum(expr(s"cast(floor(cast(v as double) * ${Scale}e0 + 0.5e0) as bigint)"))
          .as("sq"), count(lit(1)).as("n"))
        .select($"label", $"d", ($"sq".cast("double") / $"n".cast("double")).as("c"),
          $"n"))
      val pairs = cells.as("a")
        .join(cells.as("b"), $"a.d" === $"b.d" && $"a.label" < $"b.label")
        .select($"a.label".as("label_a"), $"b.label".as("label_b"),
          $"a.d".as("d"), $"a.n".as("n_a"), $"b.n".as("n_b"),
          ($"a.c" * $"b.c").as("ab"), ($"a.c" * $"a.c").as("aa"),
          ($"b.c" * $"b.c").as("bb"))
      pairs.groupBy($"label_a", $"label_b")
        .agg(max($"n_a").as("n_a"), max($"n_b").as("n_b"),
          expr("aggregate(sort_array(collect_list(named_struct('d', d, 't', ab))), " +
            "0D, (x, e) -> x + e.t)").as("dot"),
          expr("aggregate(sort_array(collect_list(named_struct('d', d, 't', aa))), " +
            "0D, (x, e) -> x + e.t)").as("na2"),
          expr("aggregate(sort_array(collect_list(named_struct('d', d, 't', bb))), " +
            "0D, (x, e) -> x + e.t)").as("nb2"))
        .select($"label_a", $"label_b", $"n_a", $"n_b",
          ($"dot" / (sqrt($"na2") * sqrt($"nb2"))).as("cosine"))
        .orderBy($"label_a", $"label_b")
    },
    Some(s"""WITH cells AS MATERIALIZED (
      |  SELECT label, i.i AS d,
      |         CAST(SUM(CAST(FLOOR(CAST(embedding[i.i] AS DOUBLE) * ${Scale}e0 + 0.5e0) AS BIGINT)) AS DOUBLE)
      |           / CAST(COUNT(*) AS DOUBLE) AS c,
      |         COUNT(*) AS n
      |  FROM embeddings CROSS JOIN (SELECT UNNEST(generate_series(1, $Dims)) AS i) i
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT a.label AS label_a, b.label AS label_b, a.d,
      |         a.n AS n_a, b.n AS n_b,
      |         a.c * b.c AS ab, a.c * a.c AS aa, b.c * b.c AS bb
      |  FROM cells a JOIN cells b ON b.d = a.d AND a.label < b.label)
      |SELECT label_a, label_b,
      |       CAST(MAX(n_a) AS BIGINT) AS n_a, CAST(MAX(n_b) AS BIGINT) AS n_b,
      |       list_reduce(list(ab ORDER BY d), (x, y) -> x + y)
      |         / (SQRT(list_reduce(list(aa ORDER BY d), (x, y) -> x + y))
      |            * SQRT(list_reduce(list(bb ORDER BY d), (x, y) -> x + y))) AS cosine
      |FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    doc = "similarity: pairwise label-centroid cosine matrix — quantized exact per-dimension sums, ordered-fold dot/norm reductions, 45-pair separability report. " +
      "ONE explode -> (label, dim) aggregate compresses the corpus to a 10x64 frame behind a Barrier; the label x label cosine matrix is epilogue on 100 cells with quantized-exact sums.")

  val all: Seq[Q] = Seq(q261)
}
