package graft

import java.io.File

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Plan lint over the ENTIRE query catalog — the regression net for the
  * next "unhinted join" refactor: no gate query may plan a cartesian
  * product, an unbounded nested-loop join, or an Exchange keyed only by
  * constants (a degenerate shuffle that funnels every row to one
  * partition). Queries whose SEMANTICS are all-pairs against a small,
  * broadcast side declare themselves below with the reason.
  *
  * Streaming rows are linted through [[Queries.CatalogEntry.plan]]: the
  * unstarted streaming DataFrame must analyse, and the walk must start no
  * streaming query (a streaming plan has no physical form before
  * `start()`).
  *
  * Rows tagged as needing the reference metadata corpus are planned only
  * where the corpus is present; the run log names the rows left out. An
  * untagged row that reads the corpus fails here, so the test also
  * checks the tag.
  */
class CatalogPlanLintSpec extends SparkSpec {

  // sf0.01, not sf0.001: several fixtures carry data-derived
  // preconditions (planted-pair invariants) that hold at the gate's
  // scale factors only
  private val sfDir = "/root/testdata/sf0.01"

  /** Queries whose nested-loop join is the DESIGN: an exact all-pairs
    * scoring pass against a provably small broadcast side (the query
    * set / the recall-audit baseline). The corpus side still streams —
    * no shuffle — so the shape is scale-safe in the corpus dimension.
    */
  private val intentionalNestedLoop: Set[String] = Set(
    "ann_brute_topk",     // the exact baseline is definitionally all-pairs
    "ann_int8_topk",      // int8 sibling of the same all-pairs baseline
    "ann_lsh_topk",       // recall audit re-scores against the exact baseline
    "ann_lsh_full_recall", // ditto
    "rp_topk",            // projected-space brute pass + the exact-baseline audit
    "tfidf_topk",         // the corpus total N rides a broadcast SINGLE-ROW cross join
    "lm_score",           // the vocabulary size V rides the same broadcast SINGLE-ROW cross join
    "ccnet_buckets",      // composes lm_score: the same single-row V broadcast
    "ccnet_buckets_scaled", // ditto (sampled-cutoff variant)
    "ccnet_buckets_sample", // ditto (replica-window variant)
    "simhash_pairs_saturated", // two SINGLE-ROW invariant aggregates crossed into one gate row
    "near_dups_auto_saturated", // the same two single-row invariant aggregates, via the dispatcher
  )

  test("no catalog query plans a cartesian/nested-loop join or a constant-keyed Exchange") {
    assume(new File(sfDir).exists(), s"$sfDir not present")
    val (planned, unavailable) = Queries.catalog.partition(_.runnable)
    info(s"planning ${planned.size} catalog queries")
    if (unavailable.nonEmpty)
      info(s"not planned, reference metadata corpus absent (${unavailable.size}): " +
        unavailable.map(_.name).mkString(", "))
    val (violations, started) = streamsStartedDuring(planned.flatMap { e =>
      val name = e.name
      val df = e.plan(spark, sfDir)
      if (df.isStreaming) df.queryExecution.assertAnalyzed()
      val nodes = if (df.isStreaming) Nil else planNodes(df)
      val joins = nodes.collect {
        case j: CartesianProductExec => s"$name: CartesianProduct"
        case j: BroadcastNestedLoopJoinExec if !intentionalNestedLoop(name) =>
          s"$name: BroadcastNestedLoopJoin (${j.joinType})"
      }
      val constShuffles = nodes.collect {
        case e: ShuffleExchangeExec => e.outputPartitioning match {
          case h: HashPartitioning if h.expressions.nonEmpty && h.expressions.forall(_.foldable) =>
            Some(s"$name: Exchange hashpartitioning on constants (${h.expressions.mkString(", ")})")
          case _ => None
        }
      }.flatten
      joins ++ constShuffles
    })
    assert(started == 0 && spark.streams.active.isEmpty,
      s"planning the catalog started $started streaming queries")
    assert(violations.isEmpty, s"plan lint violations:\n${violations.mkString("\n")}")
  }
}
