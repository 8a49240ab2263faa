package graft.similarity

import graft.{Q, Tables}
import graft.functions.CosineSimilarity
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-PQ — the composed production ANN layout (FAISS's IndexIVFPQ;
  * Jégou et al. 2011 §V): q52's coarse inverted-file cells DECIDE WHO
  * IS SCANNED, q188's product-quantization codes DECIDE HOW CHEAPLY,
  * and the exact rerank decides what is reported:
  *
  *  1. every vector is assigned to its nearest coarse centroid (8
  *     cells, broadcast — the q52 assignment) and encoded to 4 PQ
  *     code bytes (the q188 encoding);
  *  2. a query probes its top-2 cells only (nprobe=2), builds its
  *     4×8 ADC lookup table once, and scans JUST the probed cells'
  *     code lists — at 100 TB the scan touches nprobe/ncells of the
  *     corpus and reads 4 bytes per vector instead of 256;
  *  3. the ADC top-10 per query is fetched by key and exactly
  *     re-ranked to the top-5 (quantization picks candidates, never
  *     reported scores).
  *
  * Exactness: cell assignment ranks on round-6dp cosine with a cid
  * tiebreak (q52); ADC sums four round-6dp sub-dots left-to-right
  * (q188); final scores are round-4dp exact cosine with vec_id
  * tiebreaks — every ordering total, both engines bit-aligned.
  *
  * Scale shape: centroids, codebooks, and per-query LUTs broadcast;
  * the cell-restricted ADC scan is an equi-join on cell id over
  * (vec_id, cell, 4 codes) rows; raw vectors shuffle only for the
  * 10·|queries| rerank fetch.
  */
object Ivfpq {

  val NProbe = 2
  val CoarseK = 10
  val TopK = 5
  import Pq.{M, SubDim}

  val q194 = Q(
    "q194_ivfpq_ann",
    (s, dir) => {
      import s.implicits._
      CosineSimilarity.register(s)
      val e = Tables.load(s, dir, "embeddings")
      val cb = e.filter($"vec_id" >= 8 && $"vec_id" < 16)
        .select(($"vec_id" - 8).as("cid"), $"embedding".as("cvec"))
      // one broadcast crossJoin serves BOTH roles of the 8 seed
      // vectors: coarse-cell scores (full cosine) and PQ sub-dots
      val scoredCb = e.crossJoin(broadcast(cb))
        .select(Seq($"vec_id", $"cid",
          round(expr("cosine_sim(embedding, cvec)"), 6).as("csim")) ++
          (0 until M).map(m =>
            Pq.subDot("embedding", "cvec", 1 + m * SubDim, SubDim)
              .as(s"ip$m")): _*)
      // corpus side: nearest cell + per-subspace argmax codes
      val aggs = Seq(
        max(struct($"csim", (-$"cid").as("nc"))).as("wc")) ++
        (0 until M).map(m =>
          max(struct(col(s"ip$m"), (-$"cid").as("nc"))).as(s"w$m"))
      val encoded = scoredCb.groupBy($"vec_id")
        .agg(aggs.head, aggs.tail: _*)
        .select(Seq($"vec_id", (-$"wc.nc").cast("int").as("cell")) ++
          (0 until M).map(m => (-col(s"w$m.nc")).cast("int").as(s"code$m")): _*)
      // query side: top-nprobe cells + the cid-sorted LUT array
      val wCell = Window.partitionBy($"vec_id").orderBy($"csim".desc, $"cid")
      val probes = scoredCb.filter($"vec_id" < 8)
        .withColumn("pr", row_number().over(wCell))
        .filter($"pr" <= NProbe)
        .select($"vec_id".as("query_id"), $"cid".as("cell"))
      val luts = scoredCb.filter($"vec_id" < 8)
        .groupBy($"vec_id".as("query_id"))
        .agg(array_sort(collect_list(struct(
          Seq($"cid") ++ (0 until M).map(m => col(s"ip$m")): _*))).as("lut"))
      // cell-restricted ADC scan over codes only
      val adc = encoded
        .join(broadcast(probes), Seq("cell"))
        .join(broadcast(luts), Seq("query_id"))
        .filter($"vec_id" =!= $"query_id")
        .withColumn("adc", (0 until M).map(m =>
          expr(s"element_at(lut, code$m + 1).ip$m")).reduce(_ + _))
      val wq = Window.partitionBy($"query_id").orderBy($"adc".desc, $"vec_id")
      val coarse = adc.withColumn("crank", row_number().over(wq))
        .filter($"crank" <= CoarseK)
        .select($"query_id", $"vec_id")
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
      val oCos = (a: String, b: String) =>
        s"""(SELECT SUM(CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))
           |   / (sqrt(SUM(CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)))
           |      * sqrt(SUM(CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))))
           | FROM UNNEST(generate_series(1, 64)) AS g(i))""".stripMargin
      val subIps = (0 until M).map(m =>
        s"${Pq.oSubDot("e.embedding", "c.cvec", 1 + m * SubDim, SubDim)} AS ip$m")
        .mkString(",\n         ")
      val codeCtes = (0 until M).map(m =>
        s"""c$m AS (
           |  SELECT vec_id, cid AS code$m FROM (
           |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
           |      ORDER BY ip$m DESC, cid) AS rn FROM ips) WHERE rn = 1)""".stripMargin)
        .mkString(",\n")
      val lutJoins = (0 until M).map(m =>
        s"JOIN ips l$m ON l$m.vec_id = p.query_id AND l$m.cid = v.code$m")
        .mkString("\n  ")
      s"""WITH cb AS (
         |  SELECT vec_id - 8 AS cid, embedding AS cvec FROM embeddings
         |  WHERE vec_id >= 8 AND vec_id < 16),
         |ips AS (
         |  SELECT e.vec_id, c.cid,
         |         ROUND(${oCos("e.embedding", "c.cvec")}, 6) AS csim,
         |         $subIps
         |  FROM embeddings e CROSS JOIN cb c),
         |cells AS (
         |  SELECT vec_id, cid AS cell FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY csim DESC, cid) AS rn FROM ips) WHERE rn = 1),
         |$codeCtes,
         |codes AS (
         |  SELECT c0.vec_id, ce.cell, code0, code1, code2, code3
         |  FROM c0 JOIN c1 USING (vec_id) JOIN c2 USING (vec_id)
         |       JOIN c3 USING (vec_id) JOIN cells ce USING (vec_id)),
         |probes AS (
         |  SELECT vec_id AS query_id, cid AS cell FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY csim DESC, cid) AS rn FROM ips WHERE vec_id < 8)
         |  WHERE rn <= $NProbe),
         |adc AS (
         |  SELECT p.query_id, v.vec_id,
         |         l0.ip0 + l1.ip1 + l2.ip2 + l3.ip3 AS adc
         |  FROM codes v
         |  JOIN probes p ON p.cell = v.cell
         |  $lutJoins
         |  WHERE v.vec_id <> p.query_id),
         |coarse AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY adc DESC, vec_id) AS crank FROM adc)
         |  WHERE crank <= $CoarseK),
         |rer AS (
         |  SELECT co.query_id, co.vec_id AS neighbor_id,
         |         ROUND(${oCos("qv.embedding", "ev.embedding")}, 4) AS score
         |  FROM coarse co
         |  JOIN embeddings ev ON ev.vec_id = co.vec_id
         |  JOIN embeddings qv ON qv.vec_id = co.query_id)
         |SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, neighbor_id) AS rank FROM rer)
         |WHERE rank <= $TopK
         |ORDER BY query_id, rank""".stripMargin
    },
    doc = "similarity: IVF-PQ ANN — coarse cells bound the scan (nprobe=2), PQ codes bound the bytes (4/vector), exact top-5 rerank. " +
      "IVF-PQ: one broadcast crossJoin serves both centroid roles (cells + codebooks); the ADC scan is an equi-join on cell id over (vec_id, cell, 4 codes) rows — nprobe/ncells of the corpus, 4 bytes per vector; exact rerank fetches 10/query by key.")

  val all: Seq[Q] = Seq(q194)
}
