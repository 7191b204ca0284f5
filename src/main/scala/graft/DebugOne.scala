package graft
import org.apache.spark.sql.SparkSession

/** Dev helper: run a single catalog query by name against a sf dir,
  * print rows + the formatted plan. Usage:
  *   runMain graft.DebugOne <name> [sfDir] [explain]
  * Parallelism defaults to 8 and follows SPARK_GRAFT_CPUS (single
  * at-scale probes want the Bench session's 32).
  */
object DebugOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // match the Verify/Bench sessions (see Verify.scala)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    val df = fn(spark, sfDir)
    if (args.contains("explain")) df.explain("formatted")
    df.show(20, truncate = false)
    println(s"rows=${df.count()}")
    spark.stop()
  }
}
