package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TopKScoreIds must select exactly the rows
  * `row_number() OVER (ORDER BY score DESC, id) <= k` selects — same
  * total order (NaN greatest, ±0.0 equal, id tiebreak), same
  * membership with multiplicity (a duplicated (score, id) row takes
  * one slot per copy), ids emitted in rank order. Rows with a NULL
  * score or id are skipped, where the window keeps them last. */
class TopKScoreIdsSpec extends SparkSpec {
  import spark.implicits._

  // sorted (g, id) pairs: a duplicate row counts once per copy
  private def windowTopK(df: DataFrame, k: Int) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("s").desc, col("id"))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("g"), col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
  }

  private def aggTopK(df: DataFrame, k: Int) =
    df.groupBy(col("g")).agg(TopKScoreIds(col("s"), col("id"), k).as("ids"))
      .select(col("g"), explode(col("ids")).as("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("matches the window form on ties, NaN, ±0.0 and short groups") {
    val rows = Seq(
      // group 0: plain values + duplicate scores (id tiebreak)
      (0L, 0.9, 7L), (0L, 0.9, 3L), (0L, 0.5, 1L), (0L, 0.95, 9L),
      (0L, 0.5, 0L),
      // group 1: NaN must rank FIRST under DESC (Spark sort semantics)
      (1L, Double.NaN, 5L), (1L, 100.0, 6L), (1L, -1.0, 7L),
      // group 2: -0.0 and 0.0 are equal; tie falls to id
      (2L, -0.0, 9L), (2L, 0.0, 2L), (2L, -0.5, 1L),
      // group 3: fewer rows than k
      (3L, 1.0, 4L),
      // group 4: a duplicated (score, id) row takes two slots, as in
      // row_number
      (4L, 0.7, 1L), (4L, 0.7, 1L), (4L, 0.3, 2L)).toDF("g", "s", "id")
    // group 5: rows with a NULL score or id are skipped, where the
    // window would rank them last in a short group
    val nulls = Seq((5L, None, Some(3L)), (5L, Some(0.2), None),
      (5L, Some(0.1), Some(4L))).toDF("g", "s", "id")
    for (k <- Seq(1, 2, 3)) {
      assert(aggTopK(rows.union(nulls), k) ==
        windowTopK(rows.union(nulls.na.drop()), k), s"k=$k")
    }
  }

  test("rank order of the emitted array equals the window rank order") {
    val rows = Seq((0L, 0.1, 5L), (0L, 0.8, 2L), (0L, 0.8, 9L),
      (0L, 0.3, 1L), (0L, 0.9, 4L))
    val ids = rows.toDF("g", "s", "id")
      .groupBy(col("g")).agg(TopKScoreIds(col("s"), col("id"), 3).as("ids"))
      .select(col("ids")).as[Seq[Long]].head()
    assert(ids == Seq(4L, 2L, 9L)) // 0.9, then the 0.8 tie by id asc
  }

  test("many groups force map-side partials and merges; result still exact") {
    val rows = (0L until 50000L).map(i => (i % 500, (i % 97).toDouble, i))
      .toDF("g", "s", "id")
    assert(aggTopK(rows, 5) == windowTopK(rows, 5))
  }
}
