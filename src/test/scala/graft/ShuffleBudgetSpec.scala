package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.SimpleMode

/** Shuffle-exchange budget for every headline query.
  *
  * PlanSpec pins *which* structural features individual plans must keep
  * (pushed filters, broadcast sides, TakeOrderedAndProject...); this spec
  * pins the one global scale invariant across the whole headline set: the
  * NUMBER of shuffle exchanges each plan is allowed. At 100 TB an extra
  * exchange re-materializes the dataset across the cluster, so a refactor
  * that silently adds one (a lost broadcast hint, a window that stops
  * sharing its partitioning, an agg split across an extra boundary) is a
  * scalability regression even when every row still comes out right —
  * and row-level tests cannot see it. Budgets are the audited counts of
  * the current plans (see SHUFFLE.json for the measured byte volumes):
  * scan-only ops 0; one-pass agg/window/dedup 1; distinct-agg 2 (the
  * standard partial-distinct + final double exchange); broadcast joins 0.
  */
class ShuffleBudgetSpec extends AnyFunSuite {
  import SparkTestSession._

  // name -> max shuffle exchanges. Detached dedup/ANN results (computed
  // eagerly inside the builder, returned as local relations) budget 0 for
  // the RETURNED frame; their internal plan quality is pinned by PlanSpec
  // (persisted-kernel reuse) and measured by ShuffleAuditMain.
  private val budget: Map[String, Int] = Map(
    "q1_agg" -> 1,              // partial+final agg around one exchange
    "q_precedence_dedup" -> 1,  // single window partitioning
    "q_keep_latest" -> 1,
    "q_freq_agg" -> 2,          // countDistinct: (key,dist) then key
    "q_anti_join_exclusion" -> 0, // broadcast anti-join
    "q_backfill_join" -> 1,     // agg exchange; dim side broadcasts
    "q_topk" -> 0,              // TakeOrderedAndProject
    "q_hourly_agg" -> 1,
    "q_dedup_exact" -> 1,
    "q_dedup_prefix" -> 1,
    "q_minhash_dedup" -> 0,     // detached
    "q_simhash_dedup" -> 0,     // detached
    "q_winnow_dedup" -> 0,      // detached
    "q_embedding_neardup" -> 0, // detached
    "q_ann_brute" -> 1,         // per-query top-k partitioning
    "q_ann_lsh" -> 1,
    "q_ann_ivf" -> 1,
    "q_token_count" -> 0,       // scan-only
    "q_lang_id" -> 0,
    "q_quality_score" -> 0,
    "q_fingerprint" -> 0,
    "q_html_strip" -> 0,
    "q_curation" -> 1,          // one dedup exchange; dims broadcast
    "q_media_decode" -> 0,      // map-only (PlanSpec: bytes never shuffle)
    "q_frame_sample" -> 0,
    "q_merge_latest" -> 1,
  )

  private def shuffles(name: String): Int =
    SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.explainString(SimpleMode)
      .linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") ||
          l.contains("Exchange rangepartitioning") ||
          l.contains("Exchange SinglePartition"))

  test("the budget covers the whole bench headline set") {
    assert(SparkEntry.headline.toSet == budget.keySet,
      s"headline/budget drift: ${SparkEntry.headline.toSet.diff(budget.keySet)} " +
        s"unbudgeted, ${budget.keySet.diff(SparkEntry.headline.toSet)} stale")
  }

  for ((name, max) <- budget.toSeq.sortBy(_._1)) {
    test(s"$name plans within its shuffle budget ($max)") {
      val n = shuffles(name)
      assert(n <= max, s"$name plans $n shuffle exchanges, budget $max:\n" +
        SparkEntry.queries(name)(spark, sf0001)
          .queryExecution.explainString(SimpleMode))
    }
  }
}
