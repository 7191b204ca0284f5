package graft
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Catalog rows that cannot run here (the corpus-dependent rows while
  * the reference metadata corpus is absent, [[Queries.CatalogEntry.runnable]])
  * are not run and get no oracle SQL; unavailable.json names each with
  * its reason, so they read as skipped rather than as failed queries.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg: comma-separated query names (dev-only fast path;
    // the driver always calls with two args = full catalog), or
    // "--sql-only" to refresh the FULL oracle_sql.json over an existing
    // dump without re-running any query (oracle-SQL-only edits)
    val sqlOnly = args.lift(2).contains("--sql-only")
    val only: Option[Set[String]] =
      if (sqlOnly) None else args.lift(2).map(_.split(",").toSet)
    val (runnable, unavailable) =
      Queries.catalog.filter(e => only.forall(_.contains(e.name))).partition(_.runnable)
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    unavailable.foreach(e =>
      System.err.println(s"[verify] ${e.name} unavailable: ${e.unavailableReason.get}"))
    if (!sqlOnly) runnable.foreach { e =>
      try e.query(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${e.name}")
      catch { case t: Throwable =>
        System.err.println(s"[verify] ${e.name} failed: ${t.getMessage}")
      }
      // unmanaged near-dup pipelines pin session-lifetime caches by
      // design; drop them between dumps so a 70-query run's memory
      // stays flat (same discipline as Bench.runOnce)
      spark.catalog.clearCache()
    }
    def write(file: String, kvs: Seq[(String, String)]): Unit =
      Files.writeString(Paths.get(s"$outDir/$file"), Json.write(ListMap(kvs: _*)))
    write("oracle_sql.json", runnable.map(e => e.name -> e.oracleSql))
    write("unavailable.json", unavailable.map(e => e.name -> e.unavailableReason.get))
    spark.stop()
  }
}
