package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered-sequence analytics over an event stream: funnel completion
  * and gap-based sessionization. The product-analytics twins of the
  * reference's windowed aggregations — both are single-key-shuffle plans
  * that survive scale (everything partitions by the user key; no
  * self-join explosion, no driver collection).
  */
object Funnel {

  /** Ordered-step funnel: for each user, the earliest time of step 1,
    * then the earliest step-2 event STRICTLY AFTER it, and so on —
    * the standard "view → click → purchase" conversion measurement
    * (each step must causally follow its predecessor; re-orderings
    * don't count). Emits (user_id, t1..tN, stage) where stage = number
    * of steps completed; users who never reach step 1 are absent.
    *
    * Plan shape: ONE hash shuffle on the user key, then every step time
    * is a chained window min over the same partition spec — step i+1's
    * min(ts WHERE type=step ∧ ts > t_i) can reference t_i because the
    * previous window pass made it constant across the partition. All N
    * window passes and the final per-user collapse share the single
    * exchange (consecutive WindowExecs over one partitioning run in one
    * stage; the grouping key equals the window key, so the aggregate
    * adds no shuffle). This replaced a join-chained form (one filtered
    * aggregation per step joined back on user) that planned N broadcast
    * exchanges — 7 jobs → 1 measured at sf0.1, and at lake scale the
    * per-user aggregates are corpus-sized so those joins would have
    * been real shuffles, not broadcasts: the window form is strictly
    * better at both ends. No per-user event array is ever materialized
    * (the collect_list fold would blow executor memory on hot users).
    * Determinism: min(ts) and strict > are order-free.
    * Users with NULL keys survive step 1 (the NULL window partition is
    * a group on both engines) but never advance — the explicit
    * isNotNull guard mirrors what equi-joins did in the join form (the
    * join/window NULL discipline SURVEY §8 documents). */
  def funnel(events: DataFrame, user: Column, ts: Column, etype: Column,
             steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val w = Window.partitionBy(col("user_id"))
    val base = events.select(user.as("user_id"), ts.as("__ts"),
      etype.as("__et"))
    var df = base.withColumn("t1",
      min(when(col("__et") === steps.head, col("__ts"))).over(w))
    steps.zipWithIndex.tail.foreach { case (st, i) =>
      df = df.withColumn(s"t${i + 1}",
        min(when(col("user_id").isNotNull && col("__et") === st &&
          col("__ts") > col(s"t$i"), col("__ts"))).over(w))
    }
    val stage = steps.indices.tail.foldLeft(lit(1)) { (acc, i) =>
      acc + when(col(s"t${i + 1}").isNotNull, 1).otherwise(0)
    }
    val aggs = steps.indices.map(i => min(col(s"t${i + 1}")).as(s"t${i + 1}"))
    df.filter(col("t1").isNotNull)
      .groupBy(col("user_id"))
      .agg(aggs.head, aggs.tail: _*) // constant per partition; min = pick
      .select(col("user_id") +:
        steps.indices.map(i => col(s"t${i + 1}")) :+ stage.as("stage"): _*)
  }

  /** Gap-based sessionization: assigns every event a per-user session
    * sequence number — a new session starts when the gap to the previous
    * event is ≥ `gapMinutes` (same boundary rule as the q_session_window
    * aggregate, but emitting the per-EVENT assignment the downstream
    * enrichment join needs, not just per-session rollups).
    *
    * One shuffle+sort on the user key; the lag and the running sum share
    * a single window partition/order so Spark evaluates both in one
    * WindowExec pass. Ordering ties break by event id (deterministic
    * under repartitioning); NULL users sessionize together as one
    * partition on both engines. */
  def sessionize(events: DataFrame, user: Column, ts: Column, id: Column,
                 gapMinutes: Int): DataFrame = {
    val base = events.select(user.as("user_id"), id.as("event_id"), ts.as("ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prev = lag(col("ts"), 1).over(w)
    val boundary = when(prev.isNull ||
      col("ts") >= prev + expr(s"INTERVAL '$gapMinutes' MINUTE"), 1).otherwise(0)
    base.withColumn("__new", boundary)
      .withColumn("session_seq",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).cast("long"))
      .drop("__new")
  }

  /** Cohort retention matrix: users cohorted by the period of their
    * FIRST event; cell (cohort, offset) counts distinct users from
    * that cohort active `offset` periods later — the week-over-week
    * retention table every product/engagement dashboard renders.
    * Periods are integer epoch-microsecond buckets (`div` of the
    * period length), so bucketing is exact integer floor-division on
    * both engines — no calendar/timezone semantics to align.
    *
    * Shape: ONE shuffle on the user key collapses each user to
    * (first period, active-period set) — collect_set is bounded by
    * periods-per-user (calendar-bounded, not activity-bounded), and
    * its order nondeterminism is irrelevant because the set is
    * immediately exploded into rows. The matrix itself is a second,
    * cohort-keyed aggregation of user-distinct rows, so no
    * count(DISTINCT) expand plan exists anywhere. */
  def retention(events: DataFrame, user: Column, ts: Column,
                periodMicros: Long = 604800000000L): DataFrame =
    retentionFromPeriods(activityPeriods(events, user, ts, periodMicros))

  /** (user_id, wk) activity periods of an event stream — integer
    * epoch-µs buckets. The SET of these rows is [[retention]]'s whole
    * input state: distinct-union merging batches of them is idempotent
    * (the streaming retention ledger,
    * [[graft.streaming.Streaming.mergeActivityLedger]]). */
  def activityPeriods(events: DataFrame, user: Column, ts: Column,
                      periodMicros: Long): DataFrame =
    events.select(user.as("user_id"), ts.as("ts"))
      .select(col("user_id"), expr(s"unix_micros(ts) div $periodMicros").as("wk"))

  /** [[retention]] over pre-bucketed (user_id, wk) rows — the form a
    * stored activity ledger feeds directly. */
  def retentionFromPeriods(periods: DataFrame): DataFrame = {
    val byUser = periods.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort"), collect_set(col("wk")).as("wks"))
    byUser.select(col("cohort"), explode(col("wks")).as("wk"))
      .select(col("cohort"), (col("wk") - col("cohort")).as("offset"))
      .groupBy(col("cohort"), col("offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Period-over-period churn accounting: per activity period, how
    * many users are active, newly arrived (not active the period
    * before), retained (active both), and churned (active the period
    * before but not now) — with churn_rate = churned / previous-period
    * actives. [[retention]] answers "how do cohorts decay?"; this is
    * the week-over-week operational readout.
    *
    * Semantics: set algebra over the distinct (user, wk) activity set
    * against itself shifted one period — all exact integers; the one
    * division is churn_rate. Periods beyond the last observed one
    * (where every active user "churns" into no data) are dropped —
    * absent data is not churn evidence.
    *
    * Shape: one user-keyed agg (map-combined collect_set dedups the
    * raw event stream pre-shuffle) + one ≤periods-key agg — see
    * [[churnFromPeriods]]. */
  def churn(events: DataFrame, user: Column, ts: Column,
            periodMicros: Long = 604800000000L): DataFrame =
    churnFromPeriods(
      activityPeriods(events.filter(user.isNotNull && ts.isNotNull),
        user, ts, periodMicros))

  /** [[churn]] over pre-bucketed (user_id, wk) rows (duplicates
    * tolerated — the set agg dedups) — the form the streaming activity
    * ledger ([[graft.streaming.Streaming.mergeActivityLedger]]) feeds
    * directly, so churn accounting streams with NO extra state beyond
    * the ledger retention already keeps.
    *
    * One user-keyed shuffle (map-combined collect_set) folds each
    * user's whole activity timeline into a tiny sorted in-row array;
    * every growth flag is then a NEIGHBOR comparison inside it —
    * new = first entry, retained = previous week present, resurrected
    * = gap before, churned = gap after (attributed to week+1). No
    * shifted self-join, no cache, no user-keyed window: the former
    * full-outer form cost 3 extra exchanges (measured 1.5 s → 0.6 s
    * isolated at sf0.1). A week is OBSERVED iff some user is active in
    * it, so the trailing `n_active > 0` filter is exactly the old
    * observed-weeks join. */
  def churnFromPeriods(periods: DataFrame): DataFrame = {
    val perUser = periods.groupBy(col("user_id"))
      .agg(sort_array(collect_set(col("wk"))).as("ws"))
    val ws = col("ws")
    // per active week i: active/new/retained/resurrected flags at
    // ws[i]; element_at is 1-based, so ws[i-1] = element_at(ws, i)
    val act = transform(ws, (w, i) => struct(
      w.as("wk"), lit(1L).as("a"),
      when(i === 0, 1L).otherwise(0L).as("nw"),
      when(i > 0 && element_at(ws, i) === w - 1L, 1L).otherwise(0L)
        .as("rt"),
      when(i > 0 && element_at(ws, i) < w - 1L, 1L).otherwise(0L)
        .as("rs"),
      lit(0L).as("ch")))
    // churn marker at ws[i]+1 when the timeline ends or gaps there;
    // zero-valued markers are harmless (they sum 0 into a week that
    // either exists or is dropped by the observed filter)
    val chn = transform(ws, (w, i) => struct(
      (w + 1L).as("wk"), lit(0L).as("a"), lit(0L).as("nw"),
      lit(0L).as("rt"), lit(0L).as("rs"),
      when(i === size(ws) - 1 || element_at(ws, i + 2) > w + 1L, 1L)
        .otherwise(0L).as("ch")))
    val flags = perUser.select(explode(concat(act, chn)).as("c"))
      .select(col("c.*"))
      .groupBy(col("wk"))
      .agg(sum(col("a")).as("n_active"), sum(col("nw")).as("n_new"),
        sum(col("rs")).as("n_resurrected"),
        sum(col("rt")).as("n_retained"), sum(col("ch")).as("n_churned"))
    flags.filter(col("n_active") > 0L)
      .withColumn("churn_rate",
        when(col("n_retained") + col("n_churned") === 0L,
          lit(null).cast("double"))
          .otherwise(col("n_churned").cast("double") /
            (col("n_retained") + col("n_churned")).cast("double")))
      // SaaS quick ratio: arrivals over departures; NULL on a
      // zero-churn period (undefined, not infinite)
      .withColumn("quick_ratio",
        when(col("n_churned") === 0L, lit(null).cast("double"))
          .otherwise((col("n_new") + col("n_resurrected")).cast("double") /
            col("n_churned").cast("double")))
  }

  /** Cohort value (LTV) matrix: users cohort by their FIRST active
    * period; each (cohort, offset) cell reports active users, the
    * period's value mass, and the cohort's cumulative value per
    * cohort member — the revenue companion of [[retention]]'s count
    * matrix and the curve an LTV model is fit to.
    *
    * Exactness: value quantizes to LONG cents; cohort sizes, cell
    * masses and the running total are exact integers (the cumulative
    * is a window over the ≤cohorts×offsets MATRIX, not the corpus);
    * the per-user division happens once per cell.
    *
    * Shape: one user-keyed agg (first period + per-period sums ride
    * the same shuffle via a two-level agg), one matrix-keyed re-agg,
    * one small window. */
  def cohortValue(events: DataFrame, user: Column, ts: Column,
                  value: Column,
                  periodMicros: Long = 604800000000L): DataFrame =
    cohortValueFromPeriods(userValuePeriods(events, user, ts, value,
      periodMicros))

  /** The (u, wk, cw) per-user-period cent-mass relation [[cohortValue]]
    * folds — public so the streaming ledger twin
    * ([[graft.streaming.Streaming.mergeUserValueLedgerIdempotent]])
    * shares the exact bucketing. Additive across disjoint row sets —
    * what makes the streaming merge exact. */
  def userValuePeriods(events: DataFrame, user: Column, ts: Column,
                       value: Column, periodMicros: Long): DataFrame =
    userValueRows(events, user, ts, value, periodMicros)
      .groupBy(col("u"), col("wk"))
      .agg(sum(col("cw")).as("cw"))

  /** One (u, wk, cw) row per event, cw its value in whole cents:
    * [[userValuePeriods]] before its sum. */
  private[graft] def userValueRows(events: DataFrame, user: Column, ts: Column,
                                   value: Column, periodMicros: Long): DataFrame =
    events
      .filter(user.isNotNull && ts.isNotNull && value.isNotNull)
      .select(user.as("u"), ts.as("__ts"),
        floor(value * lit(100) + lit(0.5)).cast("long").as("cw"))
      .select(col("u"),
        expr(s"unix_micros(__ts) div $periodMicros").as("wk"), col("cw"))

  /** [[cohortValue]] over pre-bucketed (u, wk, cw) rows — the form a
    * stored user-value ledger feeds directly. */
  def cohortValueFromPeriods(periods: DataFrame): DataFrame = {
    val perUserWk = periods
      .withColumn("cohort", min(col("wk"))
        .over(Window.partitionBy(col("u"))))
    val cells = perUserWk
      .groupBy(col("cohort"), (col("wk") - col("cohort")).as("offset"))
      .agg(count(lit(1)).as("n_active"), sum(col("cw")).as("value_c"))
    val wc = Window.partitionBy(col("cohort")).orderBy(col("offset"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // every cohort member is active at their own first week, so the
    // cohort size IS the offset-0 active count — read it off the
    // matrix by window instead of re-aggregating the corpus subtree
    // for a broadcast side (which re-ran the events scan + both
    // upstream shuffles: measured 1.33 s → 1.20 s isolated at sf0.1 —
    // the scan dominates locally; at lake scale the saved second
    // corpus pass is the point)
    cells
      .withColumn("n_cohort",
        max(when(col("offset") === 0L, col("n_active")))
          .over(Window.partitionBy(col("cohort"))))
      .withColumn("cum_value_c", sum(col("value_c")).over(wc))
      .select(col("cohort"), col("offset"), col("n_active"),
        col("n_cohort"), col("value_c"), col("cum_value_c"),
        (col("cum_value_c").cast("double") /
          col("n_cohort").cast("double") / lit(100.0))
          .as("cum_value_per_user"))
  }

  /** Last-touch attribution: for each `toType` conversion event, the
    * latest strictly-earlier `fromType` event by the same user — the
    * "which click gets credit for this purchase" rule, reduced to its
    * audit summary (conversion count, attributed fraction, latency
    * profile).
    *
    * Shape: ONE user-keyed window (running max over the filtered
    * from-type timestamps, strictly-before frame) + a 1-row agg — no
    * self-join, no per-pair blowup; the window frame is the operator.
    * Latencies are exact µs integers; the mean divides once. */
  def lastTouchAttribution(events: DataFrame, user: Column, ts: Column,
                           id: Column, typ: Column, fromType: String,
                           toType: String): DataFrame = {
    val w = Window.partitionBy(col("u")).orderBy(col("t"), col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val conv = events
      .filter(user.isNotNull && ts.isNotNull && typ.isNotNull)
      .select(user.as("u"), unix_micros(ts).as("t"), id.as("id"),
        typ.as("typ"))
      .withColumn("last_from",
        max(when(col("typ") === fromType, col("t"))).over(w))
      .filter(col("typ") === toType)
      .select((col("t") - col("last_from")).as("lat"))
    conv.agg(count(lit(1)).as("n_conversions"),
        count(col("lat")).as("n_attributed"),
        max(col("lat")).as("max_latency_us"),
        sum(col("lat")).as("lat_sum"))
      .select(col("n_conversions"), col("n_attributed"),
        when(col("n_conversions") === 0L, lit(null).cast("double"))
          .otherwise(col("n_attributed").cast("double") /
            col("n_conversions").cast("double")).as("frac_attributed"),
        when(col("n_attributed") === 0L, lit(null).cast("double"))
          .otherwise(col("lat_sum").cast("double") /
            col("n_attributed").cast("double")).as("mean_latency_us"),
        col("max_latency_us"))
  }
}
