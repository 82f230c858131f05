package graft.join

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Join family (SURVEY.md §2.1 #9, §2.3).
  *
  * The reference ships only the join-result combiner (`value-joiner`,
  * reference: src/kafka_streams_clojure/api.clj:90-94) and TODO-lists the
  * join operators themselves (api.clj:53-55; README.md:30-34). Here the
  * full family is first-class, with the physical strategy chosen for
  * scale:
  *
  *  - enrichment (stream/fact ⋈ small dim): explicit `broadcast()` hint —
  *    no shuffle of the large side, the decisive plan at 100 TB;
  *  - large-large equi-join: sort-merge/shuffled-hash via Catalyst + AQE
  *    (skew-join splitting on);
  *  - semi/anti: `left_semi`/`left_anti` — no payload duplication.
  */
object Joins {

  /** `value-joiner` twin: combine joined rows into a projection
    * (reference: api.clj:90-94). */
  def valueJoin(left: DataFrame, right: DataFrame, cond: Column, joinType: String,
                project: Seq[Column]): DataFrame =
    left.join(right, cond, joinType).select(project: _*)

  /** Enrichment join against a small dimension — broadcast-hash.
    * The stream-table join of the reference's roadmap
    * (README.md:33-34): at scale the dim fits in memory, the fact side
    * never shuffles. */
  def enrich(fact: DataFrame, dim: DataFrame, cond: Column,
             joinType: String = "inner"): DataFrame =
    fact.join(broadcast(dim), cond, joinType)

  /** Large-large equi-join on named key columns; Catalyst picks SMJ/SHJ,
    * AQE handles skew at runtime. */
  def largeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                joinType: String = "inner"): DataFrame =
    left.join(right, keys, joinType)

  /** EXISTS — rows of `left` with a match in `right`. */
  def semi(left: DataFrame, right: DataFrame, cond: Column): DataFrame =
    left.join(right, cond, "left_semi")

  /** NOT EXISTS — rows of `left` with no match in `right`. */
  def anti(left: DataFrame, right: DataFrame, cond: Column): DataFrame =
    left.join(right, cond, "left_anti")

  /** Salted equi-join for skewed keys: the hot-key antidote when AQE's
    * runtime skew split isn't available (e.g. the key skew is extreme or
    * the join sits under an operator AQE can't re-plan). Left rows get a
    * deterministic salt in [0, salt); the right side is replicated once
    * per salt value; the join key becomes (key, salt) so a hot key's rows
    * spread over `salt` reducers instead of one.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 salt: Int, joinType: String = "inner"): DataFrame = {
    val lS = left.withColumn("__salt",
      pmod(hash(keys.map(col) :+ monotonically_increasing_id(): _*), lit(salt)))
    val rS = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    lS.join(rS, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Range join: equi-keys plus an interval predicate on an ordering
    * column (`low <= rOrd <= high`). Keeping the equi-keys FIRST in the
    * condition is what lets Catalyst plan a shuffled equi-join with the
    * range as a post-join filter — one key shuffle, candidate pairs
    * bounded per key — instead of a broadcast-nested-loop over the cross
    * product. At extreme per-key fan-out the next step is interval
    * bucketing (join on (key, floor(ord/width)) ± 1); the equi-shuffle
    * shape here is the same one that variant produces. The right keys
    * are renamed for the join and dropped after it, so a self-join never
    * leans on Spark rescuing a trivially true `k = k`; the output keeps
    * the left side's keys only. */
  def rangeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                rightOrd: Column, low: Column, high: Column,
                joinType: String = "inner"): DataFrame = {
    val rk = keys.map(k => k -> s"__right_$k").toMap
    val r = right.withColumnsRenamed(rk)
    val equi = keys.map(k => left(k) === r(rk(k))).reduce(_ && _)
    left.join(r, equi && rightOrd.between(low, high), joinType)
      .drop(rk.values.toSeq: _*)
  }

  /** As-of join: for each left row, the single latest right row with
    * `rightTs <= leftTs` sharing `keys` — the time-series enrichment the
    * reference cannot express. Composed from built-ins (union + window)
    * rather than a custom SparkPlan: ONE shuffle on the key, no range
    * explosion, which survives scale-up. Right payload columns come back
    * null when no prior right row exists.
    *
    * Implementation: tag both sides, union on (keys, time), carry the
    * right payload forward as a single struct with
    * `last(_, ignoreNulls=true)` over (key, time, side, tieBreak) —
    * struct + total order makes the picked row deterministic on timestamp
    * ties (largest `rightTieBreak` wins, matching
    * `ORDER BY t DESC, tieBreak DESC LIMIT 1`).
    */
  def asOf(left: DataFrame, leftTs: Column, right: DataFrame, rightTs: Column,
           keys: Seq[String], payload: Seq[String], rightTieBreak: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val payloadStruct = struct(payload.map(col): _*)
    // Right rows that can never match under JOIN semantics must be
    // dropped BEFORE the union — the window composition would otherwise
    // "match" them: a NULL timestamp sorts FIRST (ascending nulls-first)
    // and its payload would leak into left rows with no genuine prior
    // match, and Window.partitionBy groups NULL keys together where SQL
    // equality never matches NULL to NULL.
    val rightMatchable = keys.map(col(_).isNotNull).foldLeft(rightTs.isNotNull)(_ && _)
    val rSel = right.filter(rightMatchable).select(
      keys.map(col) :+ rightTs.as("__t") :+ lit(0).as("__side") :+
        payloadStruct.as("__p") :+ rightTieBreak.as("__tb"): _*)
    val payloadType = rSel.schema("__p").dataType
    val tbType = rSel.schema("__tb").dataType
    val leftCols = left.columns.filterNot(keys.contains)
    val lSel = left.select(
      keys.map(col) ++ leftCols.map(col) :+ leftTs.as("__t") :+ lit(1).as("__side") :+
        lit(null).cast(payloadType).as("__p") :+ lit(null).cast(tbType).as("__tb"): _*)
    val rAligned = leftCols.foldLeft(rSel)((d, c) =>
      d.withColumn(c, lit(null).cast(lSel.schema(c).dataType)))
    val u = lSel.unionByName(rAligned.select(lSel.columns.toIndexedSeq.map(col): _*))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t"), col("__side"), col("__tb"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = u.withColumn("__last", last(col("__p"), ignoreNulls = true).over(w))
    val out = filled.filter(col("__side") === 1)
    payload.foldLeft(out)((d, c) => d.withColumn(c, col("__last").getField(c)))
      .drop("__t", "__side", "__p", "__tb", "__last")
  }

  /** Record-linkage blocking join (Fellegi-Sunter blocking discipline):
    * candidate pairs must agree on a cheap high-recall blocking key;
    * only candidates pay the edit-distance refine. The equi-join on the
    * block key is what makes fuzzy matching survive scale — the naive
    * form is |R|² levenshtein calls, the blocked form is
    * Σ_blocks |b|², bounded by keeping blocks small (compose more
    * signals into `blockKey` as the table grows; salting applies if one
    * block dominates). Emits (id_a, id_b, name_a, name_b, dist) with
    * id_a < id_b, dist ≤ maxDist — dist by the classic Levenshtein
    * metric, identical on both engines. */
  def blockedFuzzyJoin(df: DataFrame, id: Column, name: Column,
                       blockKey: Column, maxDist: Int): DataFrame = {
    val side = df.select(id.as("id"), name.as("name"), blockKey.as("blk"))
    side.as("a").join(side.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.name").as("name_a"), col("b.name").as("name_b"),
        // byte-transparent recode: byte-Levenshtein on both engines
        // (see GraftFunctions.byteString) — identical on ASCII names
        levenshtein(graft.functions.GraftFunctions.byteString(col("a.name")),
          graft.functions.GraftFunctions.byteString(col("b.name")))
          .cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Interval×interval overlap join — "which sessions ran during which
    * incidents?" — the two-sided generalization of [[rangeJoin]]'s
    * point-in-interval form. Both inputs carry closed integer (µs)
    * intervals in the named start/end columns; emits every
    * (left, right) pair with `ls ≤ re AND rs ≤ le`, plus the overlap
    * length `least(le,re) − greatest(ls,rs)`.
    *
    * Scale path: a direct theta-join is a cartesian product. Each
    * interval explodes to the `gridUs`-sized time cells it touches and
    * the join runs as an EQUI-join on the cell (hash-shuffled on time,
    * so work distributes across the cluster), with the overlap
    * predicate as a post-join filter. A pair overlapping several
    * shared cells would duplicate, so only the cell containing the
    * overlap START — cell(greatest(ls, rs)) — emits it: an integer
    * keep-rule that replaces the distinct-shuffle a naive explode
    * would need. Pick gridUs near the typical interval length: too
    * fine multiplies replicas (cells per interval = len/gridUs + 1),
    * too coarse piles intervals into shared cells (per-cell work is
    * quadratic in occupancy — the skew knob).
    *
    * Column contract: callers pre-name disjoint columns; all columns
    * of both sides pass through plus `overlap_us`. */
  def intervalOverlapJoin(left: DataFrame, lStart: String, lEnd: String,
                          right: DataFrame, rStart: String, rEnd: String,
                          gridUs: Long): DataFrame = {
    def cells(df: DataFrame, s: String, e: String): DataFrame =
      df.filter(col(s).isNotNull && col(e).isNotNull && col(s) <= col(e))
        .withColumn("__cell", explode(sequence(
          call_function("div", col(s), lit(gridUs)),
          call_function("div", col(e), lit(gridUs)))))
    cells(left, lStart, lEnd)
      .join(cells(right, rStart, rEnd), Seq("__cell"))
      .filter(col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd) &&
        col("__cell") === call_function("div",
          greatest(col(lStart), col(rStart)), lit(gridUs)))
      .drop("__cell")
      .withColumn("overlap_us",
        least(col(lEnd), col(rEnd)) - greatest(col(lStart), col(rStart)))
  }
}
