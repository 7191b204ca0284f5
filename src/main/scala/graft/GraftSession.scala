package graft

import org.apache.spark.sql.SparkSession

/** The one local session config the engine is measured, oracle-checked
  * and tested under. Every graft main and test spec gets its session
  * here, so the tests run the engine that Bench measures and Verify
  * checks.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` when set, else every core of this machine. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet has carried TIMESTAMP(NANOS) in some fixture
      // generations; read it as nanos-long (harmless for micros)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // allow reusing a subset-key hash partitioning for joins on a
      // superset of those keys (e.g. bucketed-by-ID tables joining on
      // (Year, ID)): the engine's at-rest layout buckets by the
      // household ID alone, which co-partitions every (Year, ID) join
      // correctly — the conservative default would re-shuffle both
      // sides. Tradeoff (why Spark defaults to true): fewer partition
      // keys can mean coarser key distribution; our bucket counts are
      // sized for that.
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
