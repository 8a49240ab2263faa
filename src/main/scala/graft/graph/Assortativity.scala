package graft.graph

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Degree assortativity of the co-purchase backbone (Newman 2002) —
  * do popular items link to popular items (r > 0, social-network
  * shape) or to the periphery (r < 0, hub-and-spoke shape)? The third
  * structural statistic beside q137's centrality and q152's closure,
  * and the input to whether degree-targeted sampling will bias a
  * graph cut.
  *
  * Exactness: r is the Pearson correlation of (deg(u), deg(v)) over
  * DIRECTED edge endpoints (both orientations, the standard
  * symmetric-graph convention). All five moment sums and the final
  * cross products ride EXACT decimal(38,0) (HUGEINT on the oracle
  * side — the q174/q205 wide-integer stance); the single float
  * expression (nΣxy − SxSy)/(√(nΣx²−Sx²)·√(nΣy²−Sy²)) converts those
  * identical integers with the identical shape in both engines —
  * bit-identical doubles, the q151 stance, no rounding negotiation.
  * (Long moments were the sf1-zipf gate's second catch: a celebrity
  * vertex of backbone degree ~46k pushes Sx² and n·Σx² past 2⁶³ —
  * under ANSI that longs-overflow would error loudly, on skewed data
  * only. decimal38 holds to ~10³⁸: n·Σx² ≤ |E|²·d_max² stays inside
  * through every realistic shard; the reported Σxy column stays a
  * long, exact to 2⁶³. NOTE the engine runs spark.sql.ansi.enabled=
  * false, where a decimal(38,0) sum/product overflow returns NULL
  * SILENTLY while DuckDB's HUGEINT errors loudly — an asymmetric
  * failure mode if a degenerate shard ever exceeds ~1e38. The final
  * select therefore guards every moment with assert_true: a NULL
  * moment on a non-empty edge frame raises instead of emitting a
  * null assortativity that a compare could misread as data.)
  *
  * Scale shape: degrees are one aggregate over the (already bounded)
  * backbone edge list; the moment fold is one map-side-combinable
  * aggregate over 2|E| narrow rows with two broadcast-joined degree
  * lookups.
  */
object Assortativity {

  /** q166 — backbone degree assortativity. */
  val q166 = Q(
    "q166_degree_assortativity",
    (s, dir) => {
      import s.implicits._
      val lp = Tables.load(s, dir, "lineitem")
        .select($"l_orderkey".as("o"), $"l_partkey".as("p")) // raw: basketPairs dedups per basket
      val e = graft.Barrier(Triangles.backbone(lp))
      val deg = e.select($"a".as("v")).unionAll(e.select($"b".as("v")))
        .groupBy($"v").agg(count(lit(1)).as("deg"))
      // Moments on the UNDIRECTED edge frame (r14, guide §2.3/§1.2):
      // the directed convention means every edge (a,b) contributes the
      // endpoint pairs (da,db) AND (db,da) — a symmetry the fold can
      // exploit instead of materializing it: over |E| rows (not the old
      // 2|E|-row self-union), n = 2·count, Sx = Sy = Σ(da+db),
      // Σxy = 2·Σ da·db, Σx² = Σy² = Σ(da²+db²). Decimal(38,0)
      // arithmetic is EXACT, so the reordered additions produce
      // bit-identical moments — the oracle SQL is untouched and the
      // hash gate proves it. Halves the probe/aggregate input and
      // drops one broadcast-join pass.
      e
        .join(broadcast(deg.select($"v".as("a"), $"deg".as("x"))), "a")
        .join(broadcast(deg.select($"v".as("b"), $"deg".as("y"))), "b")
        // decimal(38,0) BEFORE any product: x·y and the cross terms
        // below overflow int64 once a celebrity vertex exists
        .select($"x".cast("decimal(38,0)").as("x"),
          $"y".cast("decimal(38,0)").as("y"))
        .agg((count(lit(1)) * 2).cast("decimal(38,0)").as("n"),
          sum($"x" + $"y").as("sx"),
          (sum($"x" * $"y") * 2).cast("decimal(38,0)").as("sxy"),
          sum($"x" * $"x" + $"y" * $"y").as("sxx"))
        .withColumn("sy", $"sx").withColumn("syy", $"sxx")
        // Non-ANSI decimal overflow is a SILENT NULL: fail loudly
        // instead. A NULL moment with n > 0 can only be overflow past
        // ~1e38 (empty input legitimately yields n = 0 + NULL sums,
        // which the guard admits).
        .withColumn("_moments_ok", assert_true(
          $"n" === 0 || ($"sx".isNotNull && $"sy".isNotNull &&
            $"sxy".isNotNull && $"sxx".isNotNull && $"syy".isNotNull),
          lit("q166: decimal(38,0) moment overflow (shard degree mass " +
            "exceeds ~1e38) — split the shard; refusing to emit a " +
            "silently-null assortativity")))
        .select($"n".cast("long").as("n"), $"sxy".cast("long").as("sxy"),
          (when($"_moments_ok".isNull, lit(1.0)) * // always 1.0; forces the guard's evaluation
            ((($"n" * $"sxy" - $"sx" * $"sy").cast("double")) /
            (sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double")) *
             sqrt(($"n" * $"syy" - $"sy" * $"sy").cast("double")))))
            .as("assortativity"))
    },
    Some("""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e0 AS (
      |  SELECT x.p AS a, y.p AS b, COUNT(*) AS cw
      |  FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p
      |  GROUP BY 1, 2),
      |e AS (SELECT a, b FROM e0 WHERE cw >= 2),
      |deg AS (
      |  SELECT v, COUNT(*) AS deg
      |  FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
      |de AS (
      |  SELECT a AS src, b AS dst FROM e
      |  UNION ALL SELECT b, a FROM e),
      |m AS (
      |  -- HUGEINT throughout (the Spark side rides decimal(38,0)):
      |  -- Sx*Sx and n*Sxx overflow int64 under power-law degrees
      |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
      |         SUM(CAST(dx.deg AS HUGEINT)) AS sx,
      |         SUM(CAST(dy.deg AS HUGEINT)) AS sy,
      |         SUM(CAST(dx.deg AS HUGEINT) * dy.deg) AS sxy,
      |         SUM(CAST(dx.deg AS HUGEINT) * dx.deg) AS sxx,
      |         SUM(CAST(dy.deg AS HUGEINT) * dy.deg) AS syy
      |  FROM de JOIN deg dx ON dx.v = de.src JOIN deg dy ON dy.v = de.dst)
      |SELECT CAST(n AS BIGINT) AS n, CAST(sxy AS BIGINT) AS sxy,
      |       CAST(n * sxy - sx * sy AS DOUBLE) /
      |         (SQRT(CAST(n * sxx - sx * sx AS DOUBLE)) *
      |          SQRT(CAST(n * syy - sy * sy AS DOUBLE))) AS assortativity
      |FROM m""".stripMargin),
    doc = "graph: Newman degree assortativity of the backbone — exact-integer moments, one IEEE expression. " +
      "Backbone edges built once behind a Barrier; degrees from one union-aggregate; the assortativity moments accumulate in exact integers over the edge frame — one pass each.")

  val all: Seq[Q] = Seq(q166)
}
