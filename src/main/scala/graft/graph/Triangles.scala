package graft.graph

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Degree-ordered triangle census over the co-purchase backbone graph —
  * the cohesion statistic beside [[GraphQueries]]' centrality (q137):
  * how much of the relationship structure closes into triads, globally
  * and per vertex (local clustering coefficient, Watts & Strogatz
  * 1998).
  *
  * Algorithm: node-iterator with degree ordering (Schank & Wagner
  * 2005; the MapReduce form is Suri & Vassilvitskii 2011). Every
  * undirected edge is oriented from its lower-(degree, id) endpoint to
  * the higher, wedges are generated only at each edge's LOW end, and a
  * wedge (v, w) closes iff the oriented edge v→w exists. Each triangle
  * is counted exactly once, and — the 100 TB point — the wedge count is
  * bounded by O(m^{3/2}) REGARDLESS of degree skew: a celebrity vertex
  * of degree d generates no wedges at all (every neighbor outranks it
  * never — it sits on the high end of its edges), instead its wedges
  * are spread across its lower-degree neighbors. Plain node-iterator
  * would generate d² wedges in one task; the ordering is the
  * skew-proofing, not a tie-break nicety.
  *
  * Graph: parts are linked when they co-occur in ≥ 2 distinct orders
  * (the q138 above-noise stance — the raw co-occurrence graph is
  * mostly weight-1 incidental pairs; the backbone prune keeps the
  * repeated signal and is what makes triads meaningful). Edges are
  * built once per unordered pair, behind a [[graft.Barrier]], and
  * reused by the wedge join, the closing probe, and the degree frame.
  *
  * Exactness: everything is integer — degrees, triangle counts, and
  * the clustering coefficient in ppm via integer `div`
  * (2·tri·10⁶ div deg·(deg−1)), so Spark and DuckDB agree bit-for-bit.
  */
object Triangles {

  /** Undirected backbone edges (a < b) from an (o, p) basket
    * membership frame (raw or distinct — [[GraphQueries.basketPairs]]
    * dedups per basket): pairs co-occurring in at least `minW` baskets.
    */
  private[graph] def backbone(lp: DataFrame, minW: Int = 2): DataFrame = {
    val s = lp.sparkSession
    import s.implicits._
    GraphQueries.basketPairs(lp, ordered = true)
      .groupBy($"src".as("a"), $"dst".as("b"))
      .agg(count(lit(1)).as("cw"))
      .filter($"cw" >= minW)
      .select($"a", $"b")
  }

  /** (vertex `v`, triangle count `tri`, degree `deg`) for every vertex
    * of the undirected edge frame `e(a, b)` — the testable core.
    * Vertices on no triangle appear with tri = 0.
    */
  private[graph] def vertexTriangles(e0: DataFrame): DataFrame = {
    val s = e0.sparkSession
    import s.implicits._
    val e = graft.Barrier(e0)
    val deg = graft.Barrier(
      e.select($"a".as("v")).unionAll(e.select($"b".as("v")))
        .groupBy($"v").agg(count(lit(1)).as("deg")))
    // orient low-(deg, id) → high-(deg, id); carry the dst rank so the
    // wedge join needs no extra deg lookups
    val withRanks = e
      .join(deg.select($"v".as("a"), $"deg".as("da")), "a")
      .join(deg.select($"v".as("b"), $"deg".as("db")), "b")
    val low = $"da" < $"db" || ($"da" === $"db" && $"a" < $"b")
    // pre-hashed by src BEFORE the barrier (the q182/Hits routing
    // trade): the wedge generator self-joins oriented ⋈ oriented on
    // src, and a src-partitioned cached frame satisfies BOTH sides —
    // the edge frame is exchanged once here instead of twice inside
    // the join (the closing probe still re-keys by (src, dst), which
    // no single layout can also serve)
    val oriented = graft.Barrier(withRanks.select(
      when(low, $"a").otherwise($"b").as("src"),
      when(low, $"b").otherwise($"a").as("dst"),
      when(low, $"db").otherwise($"da").as("dd"))
      .repartition($"src"))
    // wedges at the low end: dst1 outranked by dst2 (same total order)
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        $"e1.src" === $"e2.src" &&
          ($"e1.dd" < $"e2.dd" ||
            ($"e1.dd" === $"e2.dd" && $"e1.dst" < $"e2.dst")))
      .select($"e1.src".as("ta"), $"e1.dst".as("tb"), $"e2.dst".as("tc"))
      // close: the (tb, tc) edge is oriented tb→tc (tb outranked by tc)
      .join(oriented.select($"src".as("tb"), $"dst".as("tc")),
        Seq("tb", "tc"), "left_semi")
    val tv = tri.select($"ta".as("v"))
      .unionAll(tri.select($"tb".as("v")))
      .unionAll(tri.select($"tc".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("tri"))
    deg.join(tv, Seq("v"), "left_outer")
      .select($"v", coalesce($"tri", lit(0L)).as("tri"), $"deg")
  }

  /** q152 — triangle census of the co-purchase backbone: top-10 parts
    * by local triangle count with their integer-ppm clustering
    * coefficient, each row carrying the global triangle count.
    */
  val q152 = Q(
    "q152_triangle_census",
    (s, dir) => {
      import s.implicits._
      val lp = Tables.load(s, dir, "lineitem")
        .select($"l_orderkey".as("o"), $"l_partkey".as("p")) // raw: basketPairs dedups per basket
      val vt = graft.Barrier(vertexTriangles(backbone(lp)))
      val g = vt.agg(expr("sum(tri) div 3").as("global_triangles"))
      val top = vt.orderBy($"tri".desc, $"v").limit(10)
      top
        .withColumn("pos", row_number().over(Window.orderBy($"tri".desc, $"v")))
        .crossJoin(broadcast(g))
        .select($"v".as("p_partkey"), $"deg", $"tri",
          when($"deg" < 2, lit(0L))
            .otherwise(expr("(2 * tri * 1000000) div (deg * (deg - 1))"))
            .as("coeff_ppm"),
          $"global_triangles", $"pos")
        .orderBy($"pos")
    },
    // CTEs pinned MATERIALIZED (VERDICT r9 item 2): inlined, DuckDB
    // re-planned the edge pipeline once per reference (e feeds deg,
    // o ×3, the EXISTS probe) — a 33 s query became a 40 GiB
    // spill/timeout at sf1. Q.materializeCtes is mechanical; the
    // unpinned original rides oracleReference for the equivalence gate.
    Some(Q.materializeCtes(refOracle)),
    doc = "graph: degree-ordered triangle census + local clustering coefficients over the co-purchase backbone. " +
      "Degree-ordered orientation before wedge generation: hub vertices sit on the HIGH end of their edges and emit zero wedges, bounding the wedge join at O(m^1.5) under any skew; backbone (w>=2) + oriented edges each built once behind a Barrier, and the oriented frame is cached PRE-HASHED by src (r11) so the wedge self-join reads both sides co-partitioned — one edge exchange instead of two.",
    oracleReference = Some(refOracle))

  private lazy val refOracle =
    """WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |e0 AS (
      |  SELECT x.p AS a, y.p AS b, COUNT(*) AS cw
      |  FROM lp x JOIN lp y ON x.o = y.o AND x.p < y.p
      |  GROUP BY 1, 2),
      |e AS (SELECT a, b FROM e0 WHERE cw >= 2),
      |deg AS (
      |  SELECT v, COUNT(*) AS deg
      |  FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e)
      |  GROUP BY 1),
      |o AS (
      |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
      |              THEN e.a ELSE e.b END AS src,
      |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
      |              THEN e.b ELSE e.a END AS dst,
      |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
      |              THEN db.deg ELSE da.deg END AS dd
      |  FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
      |t AS (
      |  SELECT e1.src AS ta, e1.dst AS tb, e2.dst AS tc
      |  FROM o e1 JOIN o e2 ON e1.src = e2.src
      |   AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst))
      |  WHERE EXISTS (SELECT 1 FROM o WHERE o.src = e1.dst AND o.dst = e2.dst)),
      |tv AS (
      |  SELECT v, COUNT(*) AS tri
      |  FROM (SELECT ta AS v FROM t UNION ALL SELECT tb FROM t UNION ALL SELECT tc FROM t)
      |  GROUP BY 1),
      |vt AS (
      |  SELECT deg.v, COALESCE(tv.tri, 0) AS tri, deg.deg
      |  FROM deg LEFT JOIN tv ON tv.v = deg.v),
      |g AS (SELECT CAST(SUM(tri) // 3 AS BIGINT) AS global_triangles FROM vt),
      |top AS (SELECT * FROM vt ORDER BY tri DESC, v LIMIT 10)
      |SELECT v AS p_partkey, deg, tri,
      |       CASE WHEN deg < 2 THEN 0
      |            ELSE (2 * tri * 1000000) // (deg * (deg - 1)) END AS coeff_ppm,
      |       g.global_triangles,
      |       CAST(ROW_NUMBER() OVER (ORDER BY tri DESC, v) AS INT) AS pos
      |FROM top, g ORDER BY pos""".stripMargin

  val all: Seq[Q] = Seq(q152)
}
