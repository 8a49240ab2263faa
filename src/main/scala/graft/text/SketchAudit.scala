package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** MinHash sketch-accuracy audit (q212) — the q123/q126 "measure the
  * sketch against the truth" stance applied to SOURCE-level Jaccard:
  * build a P-permutation minhash signature per source over its
  * distinct 8-gram set, estimate every source-pair Jaccard as
  * matching-coordinate fraction, and report it NEXT TO the exact
  * Jaccard — the error column is the evidence that P permutations
  * suffice (or don't) before anyone trusts signature algebra on a
  * corpus where the exact join is unaffordable. q97 reports shared
  * grams; this closes the loop on the sketch that would replace it
  * at 100 TB.
  *
  * Determinism: permutation p's hash of gram g is the md5-prefix long
  * of "p:g" (the [[TextQueries.gramHashArr]] hashing stance — both
  * engines agree bit-for-bit); signatures are per-(source, perm)
  * MINs; the estimate and exact Jaccard are single IEEE divisions of
  * exact integers.
  *
  * Scale shape: the corpus tokenizes once behind a Barrier; the
  * signature pass is a constant P-way in-row fanout compressed
  * map-side to |sources|·P rows (min is map-side combinable — the
  * whole point of minhash at scale); the signature compare joins
  * P-row vectors for |sources|² /2 pairs. The EXACT side (distinct
  * grams, pairwise intersections) is the expensive audit baseline —
  * run at audit scale, replaced by the sketch in production, which
  * is precisely what this operator certifies.
  */
object SketchAudit {

  val Perms = 64

  val q212 = Q(
    "q212_minhash_accuracy",
    (s, dir) => {
      import s.implicits._
      val grams = graft.Barrier(Tables.load(s, dir, "documents")
        .select($"source", split(coalesce($"text", lit("")), " ").as("tk"))
        .filter(size($"tk") >= 8)
        .select($"source", explode(TextQueries.gramHashArr).as("gh"))
        .distinct())
      // P-permutation signature: min over grams of md5("p:gh").
      // Rows-first fanout (explode the perm ids, ONE md5 per row) —
      // packing all P md5 calls into a single transform() lambda
      // compiles to one oversized generated method that bails out of
      // JIT, costing ~10x on the first execution (round-7 driver bench
      // recorded 38 s cold / 3.8 s warm). The gram string is projected
      // once, before the fanout. Row volume and semantics identical;
      // min stays map-side combinable after the generator.
      val sig = grams
        .select($"source", $"gh".cast("string").as("ghs"),
          explode(expr(s"sequence(0, ${Perms - 1})")).as("p"))
        .select($"source", $"p",
          expr(graft.functions.Md5Prefix.sql("concat(cast(p as string), ':', ghs)")).as("h"))
        .groupBy($"source", $"p")
        .agg(min($"h").as("mh"))
      val est = sig.as("a").join(sig.as("b"),
          $"a.p" === $"b.p" && $"a.source" < $"b.source")
        .groupBy($"a.source".as("src_a"), $"b.source".as("src_b"))
        .agg(count_if($"a.mh" === $"b.mh").as("match_perms"))
      // exact Jaccard from the distinct gram sets
      val sizes = grams.groupBy($"source").agg(count(lit(1)).as("sz"))
      val inter = grams.as("a").join(grams.as("b"),
          $"a.gh" === $"b.gh" && $"a.source" < $"b.source")
        .groupBy($"a.source".as("src_a"), $"b.source".as("src_b"))
        .agg(count(lit(1)).as("inter"))
      est.join(inter, Seq("src_a", "src_b"), "left_outer")
        .withColumn("inter", coalesce($"inter", lit(0L)))
        .join(broadcast(sizes.withColumnRenamed("source", "src_a")
          .withColumnRenamed("sz", "sza")), "src_a")
        .join(broadcast(sizes.withColumnRenamed("source", "src_b")
          .withColumnRenamed("sz", "szb")), "src_b")
        .select($"src_a", $"src_b", $"match_perms", $"inter",
          ($"sza" + $"szb" - $"inter").as("uni"))
        .select($"src_a", $"src_b", $"match_perms",
          ($"match_perms".cast("double") / Perms.toDouble).as("est_jaccard"),
          ($"inter".cast("double") / $"uni".cast("double"))
            .as("exact_jaccard"),
          (($"match_perms".cast("double") / Perms.toDouble)
            - ($"inter".cast("double") / $"uni".cast("double")))
            .as("est_error"))
        .orderBy($"src_a", $"src_b")
    },
    Some(s"""WITH tok AS (
      |  SELECT source, string_split(COALESCE(text, ''), ' ') AS t
      |  FROM documents),
      |grams AS MATERIALIZED (
      |  SELECT DISTINCT source,
      |         CAST(('0x' || substr(md5(array_to_string(t[i:i+7], ' ')), 1, 15))
      |              AS BIGINT) AS gh
      |  FROM (SELECT source, t, UNNEST(generate_series(1, len(t) - 7)) AS i
      |        FROM tok WHERE len(t) >= 8)),
      |sig AS (
      |  SELECT source, p,
      |         MIN(CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || ':' ||
      |               CAST(gh AS VARCHAR)), 1, 15)) AS BIGINT)) AS mh
      |  FROM grams, range(0, $Perms) t(p)
      |  GROUP BY 1, 2),
      |est AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |         CAST(COUNT(CASE WHEN a.mh = b.mh THEN 1 END) AS BIGINT)
      |           AS match_perms
      |  FROM sig a JOIN sig b ON a.p = b.p AND a.source < b.source
      |  GROUP BY 1, 2),
      |sizes AS (SELECT source, COUNT(*) AS sz FROM grams GROUP BY 1),
      |inter AS (
      |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
      |  FROM grams a JOIN grams b
      |    ON a.gh = b.gh AND a.source < b.source
      |  GROUP BY 1, 2),
      |full0 AS (
      |  SELECT e.src_a, e.src_b, e.match_perms,
      |         COALESCE(i.inter, 0) AS inter,
      |         sa.sz + sb.sz - COALESCE(i.inter, 0) AS uni
      |  FROM est e
      |  LEFT JOIN inter i ON i.src_a = e.src_a AND i.src_b = e.src_b
      |  JOIN sizes sa ON sa.source = e.src_a
      |  JOIN sizes sb ON sb.source = e.src_b)
      |SELECT src_a, src_b, match_perms,
      |       CAST(match_perms AS DOUBLE) / ${Perms}.0 AS est_jaccard,
      |       CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS exact_jaccard,
      |       (CAST(match_perms AS DOUBLE) / ${Perms}.0)
      |         - (CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE)) AS est_error
      |FROM full0 ORDER BY src_a, src_b""".stripMargin),
    doc = s"text: $Perms-perm source-pair minhash Jaccard estimate audited against the exact Jaccard (signature algebra certified before it replaces the exact join)")

  val all: Seq[Q] = Seq(q212)
}
