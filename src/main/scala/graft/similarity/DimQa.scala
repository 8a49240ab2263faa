package graft.similarity

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Embedding dimension-correlation QA — the redundancy audit run on an
  * embedding table before trusting its geometry: strongly correlated
  * coordinate pairs mean the effective dimensionality is lower than
  * the nominal width, distances are silently reweighted toward the
  * duplicated axes, and PQ/IVF codebooks (q188/q194) waste capacity.
  * Reports the top-10 most-correlated dimension pairs with their
  * Pearson r from exact quantized moments.
  *
  * Determinism: each float coordinate quantizes to an exact integer
  * q = round(x·10⁶) (float→double is exact, the product is one
  * correctly-rounded IEEE op, round-half-away agrees across engines
  * away from representable .5 — and the e-6 grid puts mass there with
  * probability ~0); every moment (Σq, Σq², Σq_aq_b) is an exact
  * decimal/HUGEINT sum; the final r is the mirrored IEEE epilogue.
  * Ranking doubles computed identically in both engines is stable;
  * ties break on (d1, d2).
  *
  * Scale shape: ONE pass emits the D(D−1)/2 = 2016 in-row products
  * via a generated pair array (constant 2016 fanout per row, bounded
  * by the WIDTH, not the corpus) and compresses map-side to 2016
  * groups; marginal moments are a second 64-group aggregate that
  * broadcasts into the pair frame. The top-10 election is a
  * TakeOrdered over 2016 rows. Nothing corpus-sized ever shuffles.
  * Overflow: |q| ≤ 10⁷ ⇒ pair products ≤ 10¹⁴, decimal(38,0) sums
  * hold exactness to ~10²⁴ rows.
  */
object DimQa {

  val Dims = 64
  val TopK = 10

  val q204 = Q(
    "q204_dim_correlation_qa",
    (s, dir) => {
      import s.implicits._
      val qv = Tables.load(s, dir, "embeddings")
        .select(expr(
          """transform(embedding,
            |  x -> cast(round(cast(x as double) * 1000000) as bigint))"""
            .stripMargin).as("qv"))
      val quantized = graft.Barrier(qv)
      val dims = quantized
        .select(explode(expr(
          s"""transform(sequence(1, $Dims),
             |  i -> named_struct('d', i, 'q', element_at(qv, i)))"""
            .stripMargin)).as("e"))
        .groupBy($"e.d".as("d"))
        .agg(count(lit(1)).as("n"),
          sum($"e.q".cast("decimal(38,0)")).as("s"),
          sum(($"e.q" * $"e.q").cast("decimal(38,0)")).as("ss"))
      val pairs = quantized
        .select(explode(expr(
          s"""flatten(transform(sequence(1, ${Dims - 1}),
             |  i -> transform(sequence(i + 1, $Dims),
             |    j -> named_struct('d1', i, 'd2', j,
             |      'p', element_at(qv, i) * element_at(qv, j)))))"""
            .stripMargin)).as("e"))
        .groupBy($"e.d1".as("d1"), $"e.d2".as("d2"))
        .agg(sum($"e.p".cast("decimal(38,0)")).as("sp"))
      val a = dims.select($"d".as("d1"), $"n",
        $"s".as("s1"), $"ss".as("ss1"))
      val b = dims.select($"d".as("d2"),
        $"s".as("s2"), $"ss".as("ss2"))
      pairs.join(broadcast(a), "d1").join(broadcast(b), "d2")
        .select($"d1", $"d2",
          (($"n".cast("double") * $"sp".cast("double")
            - $"s1".cast("double") * $"s2".cast("double"))
            / sqrt(($"n".cast("double") * $"ss1".cast("double")
                - $"s1".cast("double") * $"s1".cast("double"))
              * ($"n".cast("double") * $"ss2".cast("double")
                - $"s2".cast("double") * $"s2".cast("double"))))
            .as("corr"))
        .orderBy(abs($"corr").desc, $"d1", $"d2")
        .limit(TopK)
    },
    Some(s"""WITH qrow AS (
      |  SELECT vec_id, i,
      |         CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS q
      |  FROM embeddings, range(1, ${Dims + 1}) t(i)),
      |dims AS (
      |  SELECT i AS d, COUNT(*) AS n, SUM(CAST(q AS HUGEINT)) AS s,
      |         SUM(CAST(q AS HUGEINT) * q) AS ss
      |  FROM qrow GROUP BY 1),
      |pairs AS (
      |  SELECT a.i AS d1, b.i AS d2, SUM(CAST(a.q AS HUGEINT) * b.q) AS sp
      |  FROM qrow a JOIN qrow b
      |    ON a.vec_id = b.vec_id AND a.i < b.i
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT p.d1, p.d2,
      |         (CAST(da.n AS DOUBLE) * CAST(p.sp AS DOUBLE)
      |            - CAST(da.s AS DOUBLE) * CAST(db.s AS DOUBLE))
      |         / sqrt((CAST(da.n AS DOUBLE) * CAST(da.ss AS DOUBLE)
      |              - CAST(da.s AS DOUBLE) * CAST(da.s AS DOUBLE))
      |            * (CAST(da.n AS DOUBLE) * CAST(db.ss AS DOUBLE)
      |              - CAST(db.s AS DOUBLE) * CAST(db.s AS DOUBLE))) AS corr
      |  FROM pairs p JOIN dims da ON da.d = p.d1 JOIN dims db ON db.d = p.d2)
      |SELECT CAST(d1 AS INT) AS d1, CAST(d2 AS INT) AS d2, corr
      |FROM scored ORDER BY abs(corr) DESC, d1, d2 LIMIT $TopK""".stripMargin),
    doc = "similarity: embedding dimension-correlation QA — top-10 |Pearson r| coordinate pairs from exact quantized moments (2016-group in-row pair pass). " +
      "Dim QA: constant 2016-fanout in-row pair array compressed map-side to 2016 groups; 64-row marginal frame broadcasts back; top-10 is a TakeOrdered over 2016 rows. Nothing corpus-sized shuffles.")

  val all: Seq[Q] = Seq(q204)
}
