package graft.core

import org.apache.spark.sql.{DataFrame, Row}

/** Cardinality guard for the driver-fold discipline (r16/r17): a query
  * whose post-corpus relation is DOMAIN-sized may fold its tail
  * arithmetic into driver arithmetic on the collected relation — but
  * "domain-sized" is an *assumption* when the domain is data-dependent
  * (web-corpus domains, metric keys × days, raw value domains). At lake
  * scale those can reach 1e7–1e8 rows, where an unguarded collect()
  * becomes a driver OOM while the pre-fold distributed form degraded
  * gracefully. This guard makes that boundary ENFORCED rather than
  * assumed: collect at most `cap`+1 rows; at or under the cap the
  * caller folds (the collected slice is provably the whole relation),
  * above it the caller takes its distributed tail form. Both arms are
  * hash-identical — the fold replays the distributed arithmetic exactly
  * (exact-integer sums are order-free; double chains are the same IEEE
  * op sequence) — so the switch can never change results, only where
  * the domain-sized tail arithmetic runs.
  *
  * Cost of the probe: none in the common (bounded) case. The
  * limit(cap+1) plan is CollectLimitExec → executeTake, which is
  * driver-safe by construction (it scans reduce partitions
  * incrementally and stops scheduling more once the limit is reached,
  * so driver memory is O(cap · scaleUpFactor) even on a 1e8-row
  * domain). It stays ONE job in the bounded case because
  * [[Scale.configure]] sets spark.sql.limit.initialNumPartitions to the
  * session's shuffle-partition count once, for the whole session; the
  * probe itself writes no conf, so concurrent queries never see it
  * change. Row order from executeTake may differ from collect(); every
  * guarded fold either sorts its rows or is order-free, and the oracle
  * compare canonicalizes row order.
  *
  * Four folds take the guard, each a measured win (their distributed
  * arms ran 2.3-2.9× slower at sf0.1, 4 cores):
  * [[graft.agg.RobustStats.psiFromValueCounts]],
  * [[graft.agg.RobustStats.lorenz]], [[graft.agg.TimeSeries.mannKendall]]
  * and [[graft.llm.Selection.domainReweight]]. (The split-conformal
  * interval folds its counts only in its single task, where the whole
  * input is already in hand; see [[graft.agg.Inference.conformalInterval]].)
  */
object DriverFold {
  /** Fold/distribute boundary in rows. 100k rows of the ≤3-LONG-column
    * relations these folds collect is a few MB on the driver — far
    * under heap — while anything larger stays distributed. Mutable as
    * a TEST SEAM only (GuardedFoldSpec lowers it to force the
    * distributed arm on small fixtures and prove the arms identical);
    * production code never writes it, and no option sets it. */
  @volatile var cap: Int = 100000

  /** Collect `df` iff it has at most [[cap]] rows; None means the
    * caller must use its distributed tail form. */
  def collectBounded(df: DataFrame): Option[Array[Row]] = {
    val head = df.limit(cap + 1).collect()
    if (head.length <= cap) Some(head) else None
  }
}
