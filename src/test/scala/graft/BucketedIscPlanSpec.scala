package graft

import java.io.File

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** Plan-shape gate for the flagship over the bucketed at-rest layout
  * ([[Queries.iscSummaryBucketed]]): with fact and registry co-bucketed
  * by the household ID, NO household-keyed frame may shuffle — not the
  * registry-attach join, not the per-household aggregation, not the
  * weight re-attach. The only exchanges allowed are over the reduced
  * (Year, class, area) frames, whose cardinality is bounded by the
  * classification × area × year space, not the data. At 100 TB that is
  * the whole point of the layout: the multi-TB shuffles happen once at
  * write time, never per query.
  */
class BucketedIscPlanSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("iscSummaryBucketed: no household-keyed exchange; results match the unbucketed flagship") {
    assume(new File(sfDir).exists(), s"$sfDir not present")
    // plan-shape assertions need the real tree (AQE wraps it) and joins
    // too big to broadcast away; the session's subset-key
    // co-partitioning (GraftSession) is what lets the (Year, ID) weight
    // join reuse the ID bucketing without re-shuffling both sides
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Queries.iscSummaryBucketed(spark, sfDir)
      val plan = df.queryExecution.executedPlan
      // both sources must come in through bucketed scans
      val bucketedScans = plan.collect {
        case sc: FileSourceScanExec if sc.bucketedScan => sc
      }
      assert(bucketedScans.size >= 2,
        s"expected bucketed scans for fact and registry, got:\n$plan")
      // the registry-attach join is a sort-merge join with NO exchange
      // anywhere beneath it — the co-bucketed layout feeds it directly
      val smjs = plan.collect { case j: SortMergeJoinExec => j }
      assert(smjs.nonEmpty, s"expected sort-merge joins over the bucketed layout:\n$plan")
      // THE property: no shuffle ever carries a household-keyed frame.
      // Post-reduction aggregates (Year, class, area) may still shuffle;
      // anything carrying the household ID may not.
      val householdShuffles = plan.collect {
        case e: ShuffleExchangeExec if e.child.output.exists(a =>
          a.name == "ID" || a.name == "HID") => e
      }
      assert(householdShuffles.isEmpty,
        s"household-keyed frame shuffled despite the bucketed layout:\n${householdShuffles.mkString("\n")}")
      // the Total row is a rollup of the per-class reduction, NOT a
      // second aggregation of the fact pipeline: with ReuseExchange the
      // whole plan reads the fact table EXACTLY ONCE (the classification
      // dictionary probe sits behind its own cached InMemoryRelation
      // leaf, so it contributes no file scan to this tree)
      val factScans = plan.collect {
        case sc: FileSourceScanExec if sc.tableIdentifier.exists(
          _.table.startsWith("graft_isc_fact")) => sc
      }
      assert(factScans.size == 1,
        s"expected ONE fact scan after the Total-row rollup, got ${factScans.size}")
      // and the results are identical to the unbucketed flagship
      val bucketed = df.collect().map(_.toSeq)
      val plain = Queries.iscSummary(spark, sfDir).collect().map(_.toSeq)
      assert(bucketed.sameElements(plain),
        "bucketed layout changed the flagship's results")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }
}
