package graft.sources


import graft.SparkSpec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** The point of [[RawSources.writeBucketed]]: co-bucketed tables must
  * join with ZERO exchange — at 100 TB that is the difference between a
  * metadata-driven merge of co-located files and a multi-TB shuffle on
  * every query. Asserted on the physical plan, not inferred.
  */
class BucketedJoinSpec extends SparkSpec {

  test("co-bucketed tables sort-merge join without any exchange") {
    import spark.implicits._
    val base = tempDir("graft_bucketed").toString
    val fact = (1L to 1000L).map(i => (i % 97, s"r$i", i)).toDF("hid", "payload", "v")
    val dim = (0L until 97L).map(i => (i, s"h$i")).toDF("hid", "label")

    // plan-shape assertions need the real tree (AQE wraps it in a leaf)
    // and a join too big to broadcast away
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      RawSources.writeBucketed(fact, "fact_b", s"$base/fact", Seq("hid"), numBuckets = 4)
      RawSources.writeBucketed(dim, "dim_b", s"$base/dim", Seq("hid"), numBuckets = 4)

      val joined = spark.table("fact_b").join(spark.table("dim_b"), "hid")
      val plan = joined.queryExecution.executedPlan
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.isEmpty,
        s"co-bucketed join must be exchange-free, found:\n${exchanges.mkString("\n")}")
      assert(plan.collect { case j: SortMergeJoinExec => j }.nonEmpty,
        "expected a sort-merge join over the bucketed layout")
      assert(joined.count() == 1000L)

      // the shuffle is still gone when the grouping key is the bucket key
      val agg = spark.table("fact_b").groupBy("hid").count()
      val aggExchanges = agg.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }
      assert(aggExchanges.isEmpty, "groupBy on the bucket key must not shuffle")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS fact_b")
      spark.sql("DROP TABLE IF EXISTS dim_b")
    }
  }
}
