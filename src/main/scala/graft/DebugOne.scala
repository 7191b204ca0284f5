package graft

/** Dev helper: run a single catalog query by name against a sf dir,
  * print rows + the formatted plan. Usage:
  *   runMain graft.DebugOne <name> [sfDir] [explain]
  */
object DebugOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession.local()
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    val df = fn(spark, sfDir)
    if (args.contains("explain")) df.explain("formatted")
    df.show(20, truncate = false)
    println(s"rows=${df.count()}")
    spark.stop()
  }
}
