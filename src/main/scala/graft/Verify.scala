package graft
import java.nio.file.{Files, Paths}
import graft.JsonOut.jstr
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    // dev loop: SPARK_GRAFT_VERIFY_QUERIES=q118_gram_novelty,q45_...
    // restricts the dump (oracle_sql.json restricted to match, so
    // check_oracle.py reports no spurious SKIPs); unset = full gate
    val selected = sys.env.get("SPARK_GRAFT_VERIFY_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = SparkEntry.queries.filter {
      case (name, _) => selected.forall(_.contains(name))
    }
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // corpus-sized barrier caches are per-query scratch: release them
      // so 98 queries in one session don't stack spilled token arrays
      // and lean on LRU eviction (they'd be recomputed anyway — the
      // next query never reuses another query's barrier)
      finally Barrier.release(spark)
    }
    // jstr escapes ALL control chars: a tab or CR in builder-authored
    // SQL would otherwise make the driver's json.load fail and silently
    // zero the round's correctness
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.forall(_.contains(k)) }
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // pre-bounding reference formulations (equivalence-proof input for
    // tools/check_oracle_equiv.py; empty map when nothing was bounded)
    val refJson = SparkEntry.oracleSqlReference
      .filter { case (k, _) => selected.forall(_.contains(k)) }
      .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql_reference.json"), refJson)
    spark.stop()
  }
}
