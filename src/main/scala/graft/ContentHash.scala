package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content hash of a DataFrame, shared by the
  * scale-correctness harnesses ([[ClusterCheck]], SkewCheck,
  * streaming.StreamKillCheck).
  *
  * SUM of per-row xxhash64 over the row struct is commutative, so a
  * partitioning/ordering difference cannot flip it while any VALUE
  * change will (modulo 2⁻⁶⁴ collisions — fine for a gate). Summed as
  * decimal(38,0): a long sum overflows under ANSI after a few
  * billion-magnitude hashes, and multiplicity matters (bit_xor would
  * cancel duplicate rows).
  *
  * ADVICE r9: map columns are canonicalized to entry-sorted
  * array&lt;struct&lt;key,value&gt;&gt; BEFORE hashing, recursively through
  * arrays/structs/nested maps, instead of enabling
  * `spark.sql.legacy.allowHashOnMapType` — the legacy map hash depends
  * on entry order, which Spark does not canonicalize, so under that
  * flag a spill-induced change in how a map was assembled could flip
  * the hash spuriously (or silently weaken what the invariance gate
  * proved). With the sort, two maps are hash-equal iff they hold the
  * same entries.
  */
object ContentHash {

  /** Rewrite `c` (of type `dt`) into a map-free, entry-order-canonical
    * value: MapType → array_sort(map_entries), recursing into array
    * elements, struct fields and map values (map keys are atomic by
    * Spark's own rules — no map/array-of-map keys — so only the value
    * side recurses).
    */
  private[graft] def canonical(c: Column, dt: DataType): Column = dt match {
    case MapType(_, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(e.getField("key").as("key"),
          canonical(e.getField("value"), vt).as("value"))))
    case ArrayType(et, _) if containsMap(et) =>
      transform(c, x => canonical(x, et))
    case st: StructType if containsMap(st) =>
      // when(c.isNotNull …): rebuilding a struct from getFields would
      // turn a NULL struct into a struct of NULLs — a value change
      when(c.isNotNull,
        struct(st.fields.map(f =>
          canonical(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  private def containsMap(dt: DataType): Boolean = dt match {
    case _: MapType          => true
    case ArrayType(et, _)    => containsMap(et)
    case st: StructType      => st.fields.exists(f => containsMap(f.dataType))
    case _                   => false
  }

  /** (rows, hash-as-decimal-string-or-"null") of `df`'s full content. */
  def rowsAndHash(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.map(f => canonical(col(f.name), f.dataType))
    val row: Row = df.agg(
      count(lit(1)).as("n"),
      sum(xxhash64(struct(cols: _*)).cast("decimal(38,0)")).as("h")).head()
    (row.getLong(0),
      Option(row.get(1)).map(_.toString).getOrElse("null"))
  }
}
