package graft
import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.SparkSession

/** Round-18 measurement harness (optimization guide §1): time one or
  * more catalog/bench queries with the noop sink (full evaluation, no
  * sink cost) and capture `explain("formatted")` to a file, so plan
  * claims in OPTIMIZATION_r18.md are reproducible artifacts.
  *
  * Usage:
  *   runMain graft.ProfileQuery <name1,name2,...> [sfDir] [planDir] [runs]
  *
  * Session config matches Bench exactly (master local[$SPARK_GRAFT_CPUS],
  * shuffle partitions = cpus) so timings are commensurable with the
  * driver bench. Plans are written to <planDir>/<name>_<suffix>.txt where
  * suffix comes from SPARK_GRAFT_PLAN_SUFFIX (default "before").
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val planDir = if (args.length > 2) args(2) else "/root/repo/plans/r18"
    val runs = if (args.length > 3) args(3).toInt else 3
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(planDir))
    val byName = SparkEntry.queries ++ Queries.benchExtra
    // same warmup as Bench: parquet reader + codegen + noop committer
    try spark.read.parquet(s"$sfDir/region.parquet").limit(1)
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => }
    names.foreach { name =>
      val fn = byName.getOrElse(name, sys.error(s"unknown query $name"))
      // capture the plan once (cheap; analysis only)
      val planTxt =
        try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        catch { case e: Throwable => s"explain failed: $e" }
      Files.write(Paths.get(planDir, s"${name}_$suffix.txt"),
        planTxt.getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      spark.sparkContext.setJobDescription(s"profile: $name")
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        catch { case e: Throwable => System.err.println(s"[profile] $name FAILED: $e") }
        val sec = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        sec
      }
      spark.sparkContext.setJobDescription(null)
      println(f"[profile] $name%-28s min=${times.min}%7.2fs  runs=${times.map(t => f"$t%.2f").mkString(", ")}")
    }
    spark.stop()
  }
}
