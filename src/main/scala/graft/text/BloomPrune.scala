package graft.text

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graftshim.InternalRowBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Bloom-filter semi-join pruning — the shuffle-volume cut for
  * "giant probe side vs selective build side" joins, decontamination
  * (q83/q129) above all: at 100 TB the training corpus explodes to
  * trillions of shingle rows, almost none of which hit the benchmark
  * set, yet an exact join shuffles every one of them. A Bloom filter
  * over the build side, probed MAP-SIDE before the exchange, drops the
  * ~never-matching rows where they were born; the surviving candidates
  * (true hits + the filter's false positives) then flow into the exact
  * join, which eliminates the false positives — the final result is
  * EXACTLY the unpruned join's (Bloom filters have no false
  * negatives; `BloomPruneSpec` forces a tiny under-sized filter and
  * asserts equality anyway).
  *
  * This is the shape of Spark's own AQE runtime bloom filter
  * (`spark.sql.optimizer.runtime.bloomFilter.enabled`, SPARK-32268) —
  * exposed as an explicit operator because the optimizer only injects
  * it under selectivity/size heuristics it can prove, and a curation
  * pipeline KNOWS its benchmark side is selective. Built on the same
  * Catalyst expressions the runtime filter uses ([[BloomFilterAggregate]]
  * / [[BloomFilterMightContain]]), so the probe is codegen'd — never a
  * Scala UDF.
  *
  * Scale design: the filter is built DISTRIBUTED (a
  * `TypedImperativeAggregate` with map-side partials); only the final
  * serialized bitset — `numBits/8` bytes, independent of build-side
  * row count — lands on the driver, the bounded-collect convention of
  * KMeans seeds and DistributedRank partition stats. It then rides to
  * executors as a plan literal (one broadcast-sized constant), and the
  * probe is a pure map — zero added exchanges.
  */
object BloomPrune {

  /** Build a Bloom filter over `key` of `keys` as a distributed
    * aggregate; returns the serialized bitset (`numBits`/8 bytes ≈
    * n·⌈log₂(1/fpp)⌉·1.44 bits for target fpp), or null when `keys`
    * is empty (see [[mightContain]]). Size `expectedItems` to the
    * build side's DISTINCT key count and `numBits` ≈ 10–15× that for
    * ~1% fpp — an undersized filter costs extra false-positive
    * candidates (more shuffle), never correctness.
    */
  def buildBloom(keys: DataFrame, key: Column,
                 expectedItems: Long, numBits: Long): Array[Byte] = {
    val agg = InternalRowBridge.column(
      new BloomFilterAggregate(
        new XxHash64(Seq(InternalRowBridge.expression(key))),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    val row = keys.agg(agg.as("bf")).head()
    if (row.isNullAt(0)) null else row.getAs[Array[Byte]](0)
  }

  /** The map-side probe: true when `value` MIGHT be in the filter
    * (false ⇒ certainly absent). A null filter (empty build side)
    * yields constant false — nothing can match an empty set, the
    * degenerate case where pruning is total.
    */
  def mightContain(bloom: Array[Byte], value: Column): Column =
    if (bloom == null) lit(false)
    else InternalRowBridge.column(BloomFilterMightContain(
      Literal(bloom, BinaryType),
      new XxHash64(Seq(InternalRowBridge.expression(value)))))

  /** The distinct-`n`-token-shingle array of `text` as a SQL
    * expression — the ONE shingle definition q129 and the pipeline
    * gate share (the q83 convention: docs shorter than one shingle
    * yield an empty array and vanish in the explode).
    */
  private def shingleExpr(n: Int): String =
    s"""CASE WHEN size(split(text, ' ')) >= $n
       |  THEN transform(sequence(1, size(split(text, ' ')) - ${n - 1}),
       |    i -> concat_ws(' ',
       |      slice(split(text, ' '), i, $n)))
       |  ELSE array() END""".stripMargin

  /** Schema-preserving decontamination GATE (the
    * [[graft.etl.CurationPipeline]] form of q83/q129): drop every doc
    * whose benchmark-shingle hits reach `maxHitPct`% of its distinct
    * `n`-token shingles; docs too short to have a shingle cannot be
    * contaminated and pass. `benchmark` is the held-out eval corpus
    * (any frame with a `text` column). With `bloomBits > 0` the probe
    * side pre-filters map-side through [[mightContain]] — identical
    * kept set, shuffle cut to the candidate slice; an EMPTY benchmark
    * builds no filter and drops nothing.
    */
  def decontaminated(docsDf: DataFrame, benchmark: DataFrame,
                     n: Int = 7, maxHitPct: Int = 10,
                     expectedItems: Long = 1L << 20,
                     bloomBits: Long = 1L << 23): DataFrame = {
    require(maxHitPct > 0, "maxHitPct must be positive")
    val bench = benchmark
      .select(explode(array_distinct(expr(shingleExpr(n)))).as("sh"))
      .distinct()
    val docSh = docsDf.select(col("doc_id"),
      explode(array_distinct(expr(shingleExpr(n)))).as("sh"))
    val probe =
      if (bloomBits <= 0) docSh
      else docSh.filter(
        mightContain(buildBloom(bench, col("sh"), expectedItems, bloomBits),
          col("sh")))
    val nSh = docSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val contaminated = probe.join(bench, Seq("sh"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
      .join(nSh, Seq("doc_id"))
      .filter(col("n_hit") * 100 >= col("n_sh") * maxHitPct)
      .select("doc_id")
    docsDf.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** The exact decontamination join, optionally Bloom-pruned: per-doc
    * distinct `n`-token shingles of the non-benchmark slice are
    * matched against the benchmark slice's distinct shingles
    * (membership = stable doc_id hash, bucket 0 of `buckets`), and
    * per-source contamination stats roll up — q83's semantics with
    * the shingle width/benchmark fraction as parameters. With
    * `bloomBits > 0` the probe side is pre-filtered map-side through
    * [[mightContain]]; the exact join then kills false positives, so
    * the result is bit-identical to `bloomBits = 0`.
    */
  def decontaminate(docsDf: DataFrame, n: Int, buckets: Long,
                    expectedItems: Long, bloomBits: Long): DataFrame = {
    val s = docsDf.sparkSession
    import s.implicits._
    def shingleRows = docsDf
      .withColumn("bucket",
        pmod(expr(
          graft.functions.Md5Prefix.sql("cast(doc_id as string)")),
          lit(buckets)))
      .select($"doc_id", $"source", ($"bucket" === 0L).as("is_bench"),
        explode(array_distinct(expr(shingleExpr(n)))).as("sh"))
    val bench = shingleRows.filter($"is_bench").select($"sh").distinct()
    val probe0 = shingleRows.filter(!$"is_bench")
    val probe =
      if (bloomBits <= 0) probe0
      else probe0.filter(
        mightContain(buildBloom(bench, $"sh", expectedItems, bloomBits), $"sh"))
    // per-doc denominators come from the UNPRUNED side (the prune only
    // narrows the hit join); AQE broadcasts the benchmark set when it
    // fits, else the join shuffles only bloom-passing candidates
    val nSh = probe0.groupBy($"doc_id", $"source")
      .agg(count(lit(1)).as("n_sh"))
    val hits = probe.join(bench, Seq("sh"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_hit"))
    nSh.join(hits, Seq("doc_id"), "left_outer")
      .withColumn("h", coalesce($"n_hit", lit(0L)))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_train_docs"),
        count_if($"h" > 0).as("n_overlapping"),
        count_if($"h" * 10 >= $"n_sh").as("n_contaminated"),
        sum($"h").as("n_hit_shingles"))
      .orderBy($"source")
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** q129 — Bloom-pruned decontamination: q83's benchmark-overlap
    * check re-planned for the 100 TB shuffle profile (7-token
    * shingles, 2.5% benchmark split to differentiate the fixture).
    * The registered query runs WITH the Bloom prune; the oracle is
    * the plain exact SQL — hash-equality IS the no-false-negatives
    * proof, round after round, on real data.
    */
  val q129 = Q(
    "q129_bloom_decontaminate",
    (s, dir) => decontaminate(docs(s, dir), n = 7, buckets = 40L,
      expectedItems = 1 << 18, bloomBits = 1L << 21),
    Some("""WITH d AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS t,
      |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
      |           % 40 = 0 AS is_bench
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, source, is_bench,
      |         array_to_string(t[i:i+6], ' ') AS sh
      |  FROM (SELECT doc_id, source, is_bench, t,
      |               UNNEST(generate_series(1, len(t) - 6)) AS i
      |        FROM d WHERE len(t) >= 7)),
      |bench AS (SELECT DISTINCT sh FROM sh WHERE is_bench),
      |train AS (
      |  SELECT doc_id, source, COUNT(*) AS n_sh FROM sh
      |  WHERE NOT is_bench GROUP BY 1, 2),
      |hits AS (
      |  SELECT s.doc_id, COUNT(*) AS n_hit
      |  FROM sh s JOIN bench b ON s.sh = b.sh
      |  WHERE NOT s.is_bench GROUP BY 1)
      |SELECT t.source,
      |       COUNT(*) AS n_train_docs,
      |       CAST(COUNT(CASE WHEN COALESCE(h.n_hit, 0) > 0 THEN 1 END)
      |            AS BIGINT) AS n_overlapping,
      |       CAST(COUNT(CASE WHEN COALESCE(h.n_hit, 0) * 10 >= t.n_sh THEN 1 END)
      |            AS BIGINT) AS n_contaminated,
      |       CAST(SUM(COALESCE(h.n_hit, 0)) AS BIGINT) AS n_hit_shingles
      |FROM train t LEFT JOIN hits h ON t.doc_id = h.doc_id
      |GROUP BY t.source ORDER BY t.source""".stripMargin),
    doc = "decontamination with map-side Bloom pruning: codegen'd BloomFilterMightContain probe, exact join kills false positives — result ≡ unpruned")

  val all: Seq[Q] = Seq(q129)
}
