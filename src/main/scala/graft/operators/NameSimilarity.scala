package graft.operators

import graft.{Q, Tables}
import graft.functions.JaroWinklerSim.jaroWinkler
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Confusable-name audit via the native [[graft.functions.JaroWinklerSim]]
  * expression — which catalog names are one typo's worth of similarity
  * apart (the collision risk input to fuzzy matching thresholds; q75
  * answers "do these two records match", this answers "how confusable
  * is the namespace itself").
  *
  * Scale shape: the quadratic similarity pass runs on the NAME
  * DICTIONARY, never the catalog — `p_name` collapses to its distinct
  * values first (vocabulary-bounded: 64 names here and a
  * generator-fixed vocabulary at every SF, the q109 dict-compression
  * stance), so the all-pairs product is |dict|²/2 regardless of corpus
  * row count, with per-name carrier counts joined back from a
  * map-side-combinable aggregate. The kernel itself stays inside
  * whole-stage codegen (no UDF boundary).
  *
  * Exactness: the expression is fuzz-pinned bit-identical to DuckDB's
  * `jaro_winkler_similarity` (see [[graft.functions.JaroWinklerAlgo]]),
  * so raw doubles compare across engines with no rounding negotiation.
  */
object NameSimilarity {

  /** q155 — top-15 most confusable part-name pairs. */
  val q155 = Q(
    "q155_confusable_names",
    (s, dir) => {
      import s.implicits._
      val names = graft.Barrier(
        Tables.load(s, dir, "part").groupBy($"p_name")
          .agg(count(lit(1)).as("n_parts")))
      val pairs = names.as("a").join(names.as("b"), $"a.p_name" < $"b.p_name")
        .select($"a.p_name".as("name_a"), $"b.p_name".as("name_b"),
          $"a.n_parts".as("parts_a"), $"b.n_parts".as("parts_b"),
          jaroWinkler($"a.p_name", $"b.p_name").as("sim"))
      val top = pairs.orderBy($"sim".desc, $"name_a", $"name_b").limit(15)
      top.withColumn("pos",
          row_number().over(Window.orderBy($"sim".desc, $"name_a", $"name_b")))
        .select($"name_a", $"name_b", $"parts_a", $"parts_b", $"sim", $"pos")
        .orderBy($"pos")
    },
    Some("""WITH names AS (
      |  SELECT p_name, COUNT(*) AS n_parts FROM part GROUP BY 1),
      |pairs AS (
      |  SELECT a.p_name AS name_a, b.p_name AS name_b,
      |         a.n_parts AS parts_a, b.n_parts AS parts_b,
      |         jaro_winkler_similarity(a.p_name, b.p_name) AS sim
      |  FROM names a JOIN names b ON a.p_name < b.p_name),
      |top AS (SELECT * FROM pairs ORDER BY sim DESC, name_a, name_b LIMIT 15)
      |SELECT name_a, name_b, parts_a, parts_b, sim,
      |       CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, name_a, name_b) AS INT) AS pos
      |FROM top ORDER BY pos""".stripMargin),
    doc = "linkage: native Jaro-Winkler expression over the deduped name dictionary — namespace confusability audit. " +
      "Quadratic Jaro-Winkler pass runs on the deduped NAME DICTIONARY (vocabulary-bounded), never the catalog; the kernel is a codegen'd Catalyst expression — no UDF serialization boundary in the pair loop.")

  val all: Seq[Q] = Seq(q155)
}
