package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only (like [[Probe]]): materialize an N× scale-up of a
  * testdata `documents` table for empirical scaling runs.
  *
  * Each copy gets disjoint doc_ids AND a per-copy token namespace
  * (every token prefixed `c<i>_`), so copies share no tokens: the
  * near-dup/gram structure of the corpus is replicated per copy
  * instead of creating millions of artificial cross-copy duplicates —
  * the workload's CHARACTER stays fixed while its volume scales,
  * which is what a scaling curve must hold constant.
  *
  * Fact tables scale the same way: per-copy key offsets keep order /
  * part / customer namespaces disjoint (the co-purchase graph and the
  * match graph replicate per copy instead of densifying), customer
  * names get a copy prefix (no artificial cross-copy fuzzy matches),
  * while DATES are shared — volume per calendar day grows with the
  * factor, which is exactly what the calendar-bounded-frame claims
  * (q153/q159) must absorb.
  *
  * Usage: runMain graft.ScaleGen <srcSfDir> <destDir> <factor> [zipf]
  * (writes ALL ten tables since round 9 — a scaled dir serves the
  * full registry, so the sf1 oracle gate can run every query:
  * facts and documents/events/embeddings scale by copy with
  * disjoint key namespaces, part/supplier scale with the same key
  * stride as their fact columns, region/nation copy through fixed.)
  *
  * The optional `zipf` mode (VERDICT r9 item 4) re-draws `o_custkey`
  * AND `l_partkey` from a Zipf(s≈1) law over their SCALED key spaces
  * instead of replicating the source's uniform-stride distribution —
  * every other column and table is identical to the plain mode. The
  * draws are deterministic (inverse-CDF on a hash of the row's
  * identity: rank = ⌊N^u⌋, u = xxhash64(id…)/2⁴⁰ scaled), so the same
  * dir regenerates bit-identically and the DuckDB oracle sees the
  * same parquet. At factor 10 the head customer takes ~6% of all
  * orders (~90k rows vs a uniform 10) — the power-law shape the AQE
  * skew-split machinery has to absorb (see ClusterCheck/SkewCheck) —
  * and the head PART sits in a similar share of baskets, giving the
  * co-purchase graph the celebrity vertices the graph family's
  * degree-ordering/src-keyed-exchange claims must absorb.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val (srcDir, destDir, factorS) = (args(0), args(1), args(2))
    val zipfOrders = args.length > 3 && args(3) == "zipf"
    val factor = factorS.toInt
    val spark = LocalSession()
    run(spark, srcDir, destDir, factor, zipfOrders)
    spark.stop()
  }

  /** The generator body, session-injected so specs can drive it. */
  def run(spark: SparkSession, srcDir: String, destDir: String,
          factor: Int, zipfOrders: Boolean = false): Unit = {
    val parallelism = spark.sparkContext.defaultParallelism
    val docs = Tables.load(spark, srcDir, "documents")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val copies = (0 until factor).map { i =>
      docs.select(
        (col("doc_id") + lit(i * maxId)).as("doc_id"),
        // per-copy token namespace: prefix every token
        concat(lit(s"c${i}_"),
          regexp_replace(col("text"), " ", s" c${i}_")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    copies.reduce(_ unionByName _)
      .repartition(parallelism)
      .write.mode("overwrite").parquet(s"$destDir/documents.parquet")

    val cust = Tables.load(spark, srcDir, "customer")
    val ord = Tables.load(spark, srcDir, "orders")
    val li = Tables.load(spark, srcDir, "lineitem")
    val part = Tables.load(spark, srcDir, "part")
    val supp = Tables.load(spark, srcDir, "supplier")
    val maxCust = cust.agg(max(col("c_custkey"))).head().getLong(0) + 1
    val maxOrd = ord.agg(max(col("o_orderkey"))).head().getLong(0) + 1
    // part/supplier keys are offset with the SAME stride on both the
    // dimension and the fact side, so each copy's joins land inside
    // the copy (the full-registry sf1 oracle joins lineitem⋈part and
    // lineitem⋈supplier — a fact-only stride would orphan every
    // scaled fact row).
    val maxPart = math.max(
      li.agg(max(col("l_partkey"))).head().getLong(0),
      part.agg(max(col("p_partkey"))).head().getLong(0)) + 1
    val maxSupp = math.max(
      li.agg(max(col("l_suppkey"))).head().getLong(0),
      supp.agg(max(col("s_suppkey"))).head().getLong(0)) + 1

    (0 until factor).map { i =>
      cust.select((col("c_custkey") + lit(i * maxCust)).as("c_custkey"),
        concat(lit(s"c${i}_"), col("c_name")).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    }.reduce(_ unionByName _).repartition(parallelism)
      .write.mode("overwrite").parquet(s"$destDir/customer.parquet")

    // zipf mode only redraws FKs; key namespaces and every other
    // column stay exactly as in the plain mode. Both drawn key spaces
    // are dense [0, factor·maxKey) by construction (source keys are
    // dense [0, maxKey) and copies stride by maxKey), so the Zipf
    // rank maps onto them directly: rank-1 IS a live key.
    // u ∈ [0,1) from a hash of the row's identity; rank = ⌊N^u⌋
    // clamped to [1,N] gives P(rank ≤ r) = ln r / ln N — the
    // Zipf(s=1) CDF.
    def zipfKey(n: Long, idCols: Column*): Column = {
      val u = (pmod(xxhash64(idCols: _*), lit(1L << 40)).cast("double")
        / lit((1L << 40).toDouble))
      val rank = least(greatest(
        floor(pow(lit(n.toDouble), u)), lit(1L)), lit(n))
      (rank - 1).cast("long")
    }
    val nCustScaled = factor * maxCust
    def zipfCust(scaledOrderKey: Column): Column =
      zipfKey(nCustScaled, scaledOrderKey)
    (0 until factor).map { i =>
      val scaledKey = (col("o_orderkey") + lit(i * maxOrd)).as("o_orderkey")
      ord.select(scaledKey,
        (if (zipfOrders) zipfCust(col("o_orderkey") + lit(i * maxOrd))
         else col("o_custkey") + lit(i * maxCust)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }.reduce(_ unionByName _).repartition(parallelism)
      .write.mode("overwrite").parquet(s"$destDir/orders.parquet")

    // zipf mode also re-draws l_partkey (VERDICT r9 item 4 names BOTH
    // o_custkey and the co-purchase keys): part popularity becomes the
    // same Zipf(s≈1) law, so the co-purchase graph gets celebrity
    // vertices — the degree skew q152's wedge ordering and the graph
    // family's src-keyed exchanges claim to absorb. The draw hashes
    // (scaled order key, line number) so it is deterministic AND
    // independent of the custkey draw; a basket may then hold the
    // same popular part twice, which is exactly what real baskets do
    // (membership dedup is the operators' job, not the generator's).
    (0 until factor).map { i =>
      li.select((col("l_orderkey") + lit(i * maxOrd)).as("l_orderkey"),
        (if (zipfOrders)
           zipfKey(factor * maxPart,
             col("l_orderkey") + lit(i * maxOrd), col("l_linenumber"))
         else col("l_partkey") + lit(i * maxPart)).as("l_partkey"),
        (col("l_suppkey") + lit(i * maxSupp)).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }.reduce(_ unionByName _).repartition(parallelism)
      .write.mode("overwrite").parquet(s"$destDir/lineitem.parquet")

    // Dimension tables, so a scaled dir serves the FULL registry
    // (VERDICT r9 item 2: oracle at sf1 for all queries, not just the
    // heavy family). part/supplier scale with the per-copy key stride
    // above; names get the copy prefix (no artificial cross-copy
    // exact-match inflation) while the categorical columns
    // (brand/type/size/nationkey/segment) stay SHARED — low-cardinality
    // dims densify under scale in real corpora, and the group-by
    // cardinality claims must absorb that, not dodge it.
    (0 until factor).map { i =>
      part.select((col("p_partkey") + lit(i * maxPart)).as("p_partkey"),
        concat(lit(s"c${i}_"), col("p_name")).as("p_name"),
        col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))
    }.reduce(_ unionByName _).repartition(parallelism)
      .write.mode("overwrite").parquet(s"$destDir/part.parquet")

    (0 until factor).map { i =>
      supp.select((col("s_suppkey") + lit(i * maxSupp)).as("s_suppkey"),
        concat(lit(s"c${i}_"), col("s_name")).as("s_name"),
        col("s_nationkey"), col("s_acctbal"))
    }.reduce(_ unionByName _).repartition(parallelism)
      .write.mode("overwrite").parquet(s"$destDir/supplier.parquet")

    // region/nation are FIXED-SIZE dims at every real scale factor
    // (TPC-H keeps them constant from sf1 to sf100k) — copy through.
    Tables.load(spark, srcDir, "region").coalesce(1)
      .write.mode("overwrite").parquet(s"$destDir/region.parquet")
    Tables.load(spark, srcDir, "nation").coalesce(1)
      .write.mode("overwrite").parquet(s"$destDir/nation.parquet")

    // Embeddings: per-copy vec_id stride, DE-SHARED vectors (VERDICT
    // r9 item 3). Copying vectors verbatim gave every point factor-1
    // exact duplicates in other copies, which (a) densified the
    // near-dup structure unrealistically and (b) blew up the q49/q106
    // all-pairs oracle formulations at sf1. Each copy i>0 instead gets
    // a per-copy SIGNED COORDINATE PERMUTATION — an orthogonal
    // transform, so it preserves every vector's norm and every
    // WITHIN-copy angle exactly (the planted near-dup pairs replicate
    // per copy, same stance as the token-namespace prefix on
    // documents), while a vector and its cross-copy image are as far
    // apart as two random d=64 directions (E[cos]=0, σ≈1/√d) — no
    // cross-copy near-dups, realistic pair counts. Deterministic: the
    // permutation/signs derive from a fixed seed + copy index.
    // Multiplication by ±1 is exact in float, so only coordinate
    // ORDER changes — per-vector content is a bit-exact reshuffle.
    val emb = Tables.load(spark, srcDir, "embeddings")
    val maxVec = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    (0 until factor).map { i =>
      val vec: Column =
        if (i == 0) col("embedding")
        else {
          val rnd = new scala.util.Random(0x5CA1E + i)
          val perm = rnd.shuffle((0 until dim).toVector)
          val signs = Vector.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
          array((0 until dim).map(j =>
            (col("embedding").getItem(perm(j)) * lit(signs(j)))
              .cast("float")): _*)
        }
      emb.select((col("vec_id") + lit(i * maxVec)).as("vec_id"),
        vec.as("embedding"), col("label"))
    }.reduce(_ unionByName _).repartition(parallelism)
      .write.mode("overwrite").parquet(s"$destDir/embeddings.parquet")

    // Events: per-copy user/event namespaces, SHARED timestamps — the
    // per-calendar-instant event volume grows with the factor (the same
    // stance as the fact tables), so session/transition/attribution
    // structure replicates per copy instead of densifying.
    val ev = Tables.load(spark, srcDir, "events")
    val maxEv = ev.agg(max(col("event_id"))).head().getLong(0) + 1
    val maxUser = ev.agg(max(col("user_id"))).head().getLong(0) + 1
    (0 until factor).map { i =>
      // ts must round-trip as RAW MICROS LONGS: Tables.load reads events.ts
      // with an explicit LongType schema (+ the magnitude CASE), so writing
      // the converted TimestampType here would produce a file every
      // Tables.load consumer fails to read (INT96/INT64-timestamp vs
      // bigint — caught in round 8 when scaled-events queries crashed).
      ev.select((col("event_id") + lit(i * maxEv)).as("event_id"),
        unix_micros(col("ts")).as("ts"),
        (col("user_id") + lit(i * maxUser)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _).repartition(parallelism)
      .write.mode("overwrite").parquet(s"$destDir/events.parquet")
  }
}
