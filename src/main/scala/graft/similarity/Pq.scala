package graft.similarity

import graft.{Q, Tables}
import graft.functions.CosineSimilarity
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product-quantization ANN (Jégou et al. 2011, "Product quantization
  * for nearest neighbor search") — the missing member of the ANN
  * family: q47 brute force, q48 sign-LSH buckets, q52 IVF coarse
  * cells, q131 int8 scalar quantization, and HERE subspace vector
  * quantization with asymmetric-distance (ADC) scoring:
  *
  *  1. the 64-dim space splits into M=4 contiguous 16-dim subspaces;
  *  2. each subspace has an 8-codeword codebook (fixed seed vectors —
  *     the q52 centroid convention, so the oracle shares them; a
  *     production build trains them with [[KMeans]]);
  *  3. every corpus vector compresses to 4 code bytes — a 64×
  *     memory cut (64 floats → 4 codes), the entire point of PQ: the
  *     100 TB corpus's PQ index fits in RAM where raw vectors never
  *     could;
  *  4. a query builds a 4×8 inner-product LOOKUP TABLE against the
  *     codebooks (32 sub-dots, query-side only), and every corpus
  *     vector scores by 4 table lookups + 3 additions — no float
  *     vector is touched during the scan;
  *  5. the ADC top-K (K=20) candidates are fetched BY KEY from the
  *     vector store and exactly re-ranked to the final top-5 (the
  *     q131 coarse-then-rerank contract: quantization decides the
  *     candidate set, never the reported score).
  *
  * Exactness: sub-dots are sequential-fold doubles rounded to 6dp on
  * both engines (the oCos stance); ADC sums 4 rounded doubles
  * left-to-right (exact IEEE, engine-identical); every rank has a
  * vec_id tiebreak.
  *
  * Scale shape: codebooks and query LUTs are broadcast (tiny);
  * encoding is one streaming pass (crossJoin with 8 broadcast
  * codewords, map-side argmax); the ADC scan carries (vec_id, 4
  * codes) only; the rerank joins the 20·|queries| survivors back to
  * the vector table by key — the only point raw vectors shuffle.
  */
object Pq {

  val M = 4 // subspaces
  val SubDim = 16 // dims per subspace (M * SubDim = 64)
  val CoarseK = 20
  val TopK = 5

  /** Rounded sequential-fold sub-dot over dims [off, off+len) (1-based
    * slice offset), float→double per element — engine-matched with
    * [[oSubDot]].
    */
  private[similarity] def subDot(a: String, b: String, off: Int, len: Int): Column =
    round(expr(
      s"""aggregate(zip_with(slice($a, $off, $len), slice($b, $off, $len),
         |  (x, y) -> cast(x as double) * cast(y as double)),
         |  0D, (acc, v) -> acc + v)""".stripMargin), 6)

  private[similarity] def oSubDot(a: String, b: String, off: Int, len: Int): String =
    s"""ROUND((SELECT SUM(CAST($a[$off + i - 1] AS DOUBLE)
       |                  * CAST($b[$off + i - 1] AS DOUBLE))
       |       FROM UNNEST(generate_series(1, $len)) AS g(i)), 6)""".stripMargin

  val q188 = Q(
    "q188_pq_ann",
    (s, dir) => {
      import s.implicits._
      val e = Tables.load(s, dir, "embeddings")
      val cb = e.filter($"vec_id" >= 8 && $"vec_id" < 16)
        .select(($"vec_id" - 8).as("cid"), $"embedding".as("cvec"))
      // per-subspace inner products vs all 8 codewords — shared by
      // corpus encoding and query LUTs
      def ips(vecCol: String) = (0 until M).map(m =>
        subDot(vecCol, "cvec", 1 + m * SubDim, SubDim).as(s"ip$m"))
      val scoredCb = e.crossJoin(broadcast(cb))
        .select(Seq($"vec_id", $"cid") ++ ips("embedding"): _*)
      // encode: per-subspace argmax codeword (ip desc, cid tiebreak)
      val argmaxes = (0 until M).map(m =>
        max(struct(col(s"ip$m"), (-$"cid").as("nc"))).as(s"w$m"))
      val codes = scoredCb.groupBy($"vec_id")
        .agg(argmaxes.head, argmaxes.tail: _*)
        .select(Seq($"vec_id") ++
          (0 until M).map(m => (-col(s"w$m.nc")).cast("int").as(s"code$m")): _*)
      // query LUTs: one 8-row table per probe, shipped as a cid-sorted
      // struct array so ADC is element_at lookups
      val luts = scoredCb.filter($"vec_id" < 8)
        .groupBy($"vec_id".as("query_id"))
        .agg(array_sort(collect_list(struct(
          Seq($"cid") ++ (0 until M).map(m => col(s"ip$m")): _*))).as("lut"))
      val adc = codes.crossJoin(broadcast(luts))
        .filter($"vec_id" =!= $"query_id")
        .withColumn("adc", (0 until M).map(m =>
          expr(s"element_at(lut, code$m + 1).ip$m")).reduce(_ + _))
      val wq = Window.partitionBy($"query_id").orderBy($"adc".desc, $"vec_id")
      val coarse = adc.withColumn("crank", row_number().over(wq))
        .filter($"crank" <= CoarseK)
        .select($"query_id", $"vec_id")
      // exact rerank: fetch the K survivors' vectors BY KEY, score the
      // true cosine, keep the top-5
      CosineSimilarity.register(s)
      val rer = coarse
        .join(e.select($"vec_id", $"embedding"), Seq("vec_id"))
        .join(broadcast(e.filter($"vec_id" < 8)
          .select($"vec_id".as("query_id"), $"embedding".as("qvec"))),
          Seq("query_id"))
        .withColumn("score", round(expr("cosine_sim(qvec, embedding)"), 4))
      val wr = Window.partitionBy($"query_id").orderBy($"score".desc, $"vec_id")
      rer.withColumn("rank", row_number().over(wr))
        .filter($"rank" <= TopK)
        .select($"query_id", $"vec_id".as("neighbor_id"), $"score",
          $"rank".cast("int").as("rank"))
        .orderBy($"query_id", $"rank")
    },
    Some {
      val subIps = (0 until M).map(m =>
        s"${oSubDot("e.embedding", "c.cvec", 1 + m * SubDim, SubDim)} AS ip$m")
        .mkString(",\n         ")
      val codeCtes = (0 until M).map(m =>
        s"""c$m AS (
           |  SELECT vec_id, cid AS code$m FROM (
           |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
           |      ORDER BY ip$m DESC, cid) AS rn FROM ips) WHERE rn = 1)""".stripMargin)
        .mkString(",\n")
      val lutJoins = (0 until M).map(m =>
        s"JOIN ips l$m ON l$m.vec_id = q.vec_id AND l$m.cid = v.code$m")
        .mkString("\n  ")
      val cosExpr =
        """(SELECT SUM(CAST(qv.embedding[i] AS DOUBLE) * CAST(ev.embedding[i] AS DOUBLE))
          |   / (sqrt(SUM(CAST(qv.embedding[i] AS DOUBLE) * CAST(qv.embedding[i] AS DOUBLE)))
          |      * sqrt(SUM(CAST(ev.embedding[i] AS DOUBLE) * CAST(ev.embedding[i] AS DOUBLE))))
          | FROM UNNEST(generate_series(1, 64)) AS g(i))""".stripMargin
      s"""WITH cb AS (
         |  SELECT vec_id - 8 AS cid, embedding AS cvec FROM embeddings
         |  WHERE vec_id >= 8 AND vec_id < 16),
         |ips AS (
         |  SELECT e.vec_id, c.cid,
         |         $subIps
         |  FROM embeddings e CROSS JOIN cb c),
         |$codeCtes,
         |codes AS (
         |  SELECT c0.vec_id, code0, code1, code2, code3
         |  FROM c0 JOIN c1 USING (vec_id) JOIN c2 USING (vec_id)
         |       JOIN c3 USING (vec_id)),
         |adc AS (
         |  SELECT q.vec_id AS query_id, v.vec_id,
         |         l0.ip0 + l1.ip1 + l2.ip2 + l3.ip3 AS adc
         |  FROM codes v
         |  CROSS JOIN (SELECT vec_id FROM embeddings WHERE vec_id < 8) q
         |  $lutJoins
         |  WHERE v.vec_id <> q.vec_id),
         |coarse AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY adc DESC, vec_id) AS crank FROM adc)
         |  WHERE crank <= $CoarseK),
         |rer AS (
         |  SELECT co.query_id, co.vec_id AS neighbor_id,
         |         ROUND($cosExpr, 4) AS score
         |  FROM coarse co
         |  JOIN embeddings ev ON ev.vec_id = co.vec_id
         |  JOIN embeddings qv ON qv.vec_id = co.query_id)
         |SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, neighbor_id) AS rank FROM rer)
         |WHERE rank <= $TopK
         |ORDER BY query_id, rank""".stripMargin
    },
    doc = "similarity: product-quantization ANN — 4×16-dim codebooks, 4-byte codes, ADC lookup-table scan, exact top-5 rerank. " +
      "PQ ANN: codebooks + per-query LUT arrays broadcast; encoding is one streaming crossJoin + map-side struct-max argmax; the ADC scan shuffles (vec_id, 4 codes) only — 4 lookups + 3 adds per vector, no float vectors; raw vectors move only for the 20-per-query rerank fetch by key.")

  val all: Seq[Q] = Seq(q188)
}
