package graft.core

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.{Failure, Success, Try}

/** Keyed record — the engine's typed core abstraction.
  *
  * The reference models every record as a 2-tuple `[k v]`
  * (reference: src/kafka_streams_clojure/api.clj:20-22, 31-33); the typed
  * layer here is the direct analogue, with string key/value matching the
  * String/String serdes used in every shipped example
  * (reference: api.clj:170-171, README.md:93-94).
  */
final case class KV(key: String, value: String)

/** Composable pipeline algebra — the engine-core equivalent of the
  * reference's transducer pipeline.
  *
  * In the reference, a dataflow program is a transducer (`comp` of steps)
  * applied to a KStream via `transduce-kstream`
  * (reference: api.clj:36-39, 49-51, 157-159). Here a pipeline stage is a
  * `Dataset => Dataset` function and composition is `andThen` — Catalyst's
  * `CollapseProject`/`CombineFilters` + WholeStageCodegen fuse the composed
  * stages into one generated loop, reproducing (and beating) the
  * transducer-fusion property without any custom machinery.
  */
object Pipe {

  /** Untyped pipeline stage (works on any schema — the dynamic layer). */
  type TPipe = DataFrame => DataFrame

  /** Typed pipeline stage over an arbitrary element type. */
  type Pipe[T, U] = Dataset[T] => Dataset[U]

  /** Identity stage. */
  def id[T]: Pipe[T, T] = (ds: Dataset[T]) => ds

  /** Compose stages left-to-right, like `comp` read inside-out
    * (reference: api.clj:157-159). */
  def pipe[T](stages: TPipe*): TPipe =
    stages.foldLeft(identity[DataFrame] _)(_ andThen _)
}

/** Stateless transducer vocabulary as Dataset/Column combinators
  * (SURVEY.md §2.2). Column-based forms are preferred on oracle/bench paths
  * (whole-stage codegen); typed-lambda forms reproduce the reference's
  * "any Clojure fn" freedom (reference: api.clj:157-159).
  */
object Xform {
  import Pipe.TPipe

  // ---- Column-based (codegen-friendly) ----------------------------------

  /** `map` twin: 1→1 projection. */
  def xmap(cols: Column*): TPipe = df => df.select(cols: _*)

  /** `filter` twin: keep matching (reference: api.clj:157 `(filter ...)`). */
  def xfilter(pred: Column): TPipe = df => df.filter(pred)

  /** `remove` twin: drop matching. */
  def xremove(pred: Column): TPipe = df => df.filter(!pred)

  /** `keep` twin: map then drop nulls. */
  def xkeep(col: Column, as: String, keepCols: Column*): TPipe =
    df => df.select(keepCols :+ col.as(as): _*).filter(org.apache.spark.sql.functions.col(as).isNotNull)

  /** `mapcat` twin: 1→N via array explode. */
  def xmapcat(arrayCol: Column, as: String, keepCols: Column*): TPipe =
    df => df.select(keepCols :+ explode(arrayCol).as(as): _*)

  /** `distinct` twin: global dedup on the named columns (all if empty). */
  def xdistinct(cols: Seq[String] = Nil): TPipe =
    df => if (cols.isEmpty) df.distinct() else df.dropDuplicates(cols)

  /** `random-sample p` twin — seeded for reproducibility. */
  def xsample(fraction: Double, seed: Long = 42L): TPipe =
    df => df.sample(withReplacement = false, fraction, seed)

  /** `through` twin (reference TODO api.clj:55): in Kafka Streams,
    * writing to an intermediate topic and re-reading it is how a pipeline
    * repartitions; in Spark that is just an explicit hash repartition on
    * the key — no external round-trip. */
  def through(numPartitions: Int, keys: Column*): TPipe =
    df => if (keys.isEmpty) df.repartition(numPartitions)
          else df.repartition(numPartitions, keys: _*)

  /** Spread a frame across the cluster's cores BEFORE a CPU-heavy
    * per-row expansion (chunking, hash-embedding, media decode): a
    * small or single-file source scans as fewer splits than there are
    * cores, and everything pipelined onto that scan then runs
    * single-task no matter how expensive. A round-robin repartition of
    * the RAW rows (cheap — pre-expansion bytes) rebalances the
    * expensive stage; a source that already has enough splits passes
    * through untouched, so at lake scale this is a no-op. The partition
    * count is read from the physical scan at plan time — no job. */
  def spreadToCores(df: DataFrame): DataFrame = {
    // streaming frames can't report partition counts pre-execution
    // (df.rdd requires a started query); micro-batches are already
    // sized by the source — pass through
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Error-swallowing step semantics (reference: api.clj:21-24 catches,
    * prints, and drops the failing record). Spark's default is
    * fail-the-task; this combinator reproduces the reference's observable
    * behavior — bad records don't kill the job, good records still flow.
    * Failures are counted in a named accumulator (the "dead letter" count)
    * instead of stderr spam.
    */
  def safeFlatMap[T, U: Encoder](spark: SparkSession, name: String)(
      f: T => IterableOnce[U]): Pipe.Pipe[T, U] = {
    val dropped = spark.sparkContext.longAccumulator(s"graft.dropped.$name")
    ds =>
      ds.flatMap { t =>
        Try(f(t).iterator.toSeq) match {
          case Success(us) => us
          case Failure(_)  => dropped.add(1L); Nil
        }
      }
  }
}
