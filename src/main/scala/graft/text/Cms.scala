package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-min sketch over a token stream — the ONE definition shared by
  * the q124 batch audit and [[graft.streaming.SketchMonitorJob]] (a
  * drifted copy in either could not vacuously agree with the other).
  *
  * The sketch is LINEAR: cells(A ∪ B) = cells(A) + cells(B) cell-wise,
  * which is what makes it the streaming-native frequency structure —
  * each micro-batch contributes its own d×w grid and the running
  * corpus sketch is a plain (row, bucket) sum, with no rescan of
  * history and no per-token state. Estimates are one-sided
  * (≥ the true count, never under): each cell only ever accumulates.
  *
  * Reference: Cormode & Muthukrishnan 2005 (the count-min sketch).
  */
object Cms {

  val DefaultD = 4
  val DefaultW = 1024

  /** The d salted bucket hashes of token column `t`: salted
    * [[graft.functions.Md5Prefix]] keys mod w.
    */
  def bucketHashes(d: Int, w: Int): Seq[Column] =
    (1 to d).map(r => expr(
      graft.functions.Md5Prefix.sql(s"concat('$r|', t)") + s" % $w"))

  /** Sketch cells (r0, b, c) from a pre-aggregated (t, cnt) vocab
    * frame — at most d·w rows out; the aggregate combines map-side.
    */
  def cellsOfVocab(vocab: DataFrame, d: Int = DefaultD,
                   w: Int = DefaultW): DataFrame = {
    val s = vocab.sparkSession
    import s.implicits._
    vocab.select($"t", $"cnt", posexplode(array(bucketHashes(d, w): _*))
        .as(Seq("r0", "b")))
      .groupBy($"r0", $"b").agg(sum($"cnt").as("c"))
  }

  /** Sketch cells straight off a documents frame: the token stream
    * compresses to the vocab dict first (the q109 trainer move), so
    * cell construction is |vocab|·d narrow rows regardless of corpus
    * volume.
    */
  def cells(docsDf: DataFrame, d: Int = DefaultD,
            w: Int = DefaultW): DataFrame = {
    val s = docsDf.sparkSession
    import s.implicits._
    cellsOfVocab(
      docsDf.select(explode(split(col("text"), " ")).as("t"))
        .groupBy($"t").agg(count(lit(1)).as("cnt")),
      d, w)
  }

  /** Merge per-batch cell grids into the running corpus sketch — the
    * linearity property, as one map-side-combinable aggregate over
    * ≤ batches·d·w rows.
    */
  def merge(cellFrames: DataFrame): DataFrame = {
    val s = cellFrames.sparkSession
    import s.implicits._
    cellFrames.groupBy($"r0", $"b").agg(sum($"c").as("c"))
  }

  /** Point estimates for the tokens in `tokens` (column `t`) against a
    * sketch: min over the d cells each token hashes to. The sketch is
    * ≤ d·w rows and the token frame is never corpus-sized (estimation
    * is a point-query API) — AQE broadcast-sizes the join on its own;
    * a forced hint here measurably serialized an extra build job in
    * the q124 bench.
    */
  def estimates(sketch: DataFrame, tokens: DataFrame,
                d: Int = DefaultD, w: Int = DefaultW): DataFrame = {
    val s = tokens.sparkSession
    import s.implicits._
    // LEFT join: a cell no corpus token hashed to is an EMPTY cell,
    // and the min over a token's d cells must see its 0 — an inner
    // join would silently drop never-ingested tokens (or worse,
    // min over only the collided cells, inflating 0 to a positive
    // count)
    tokens.select($"t", posexplode(array(bucketHashes(d, w): _*))
        .as(Seq("r0", "b")))
      .join(sketch, Seq("r0", "b"), "left_outer")
      .groupBy($"t").agg(min(coalesce($"c", lit(0L))).as("est"))
  }
}
