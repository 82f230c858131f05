package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.Row

/** Structured Streaming twins of the reference's topology surface.
  *
  * The reference's whole execution model is: Kafka topics in
  * (reference: src/kafka_streams_clojure/api.clj:57-60), a transducer
  * pipeline per record (api.clj:49-51), topics out (api.clj:164), with
  * at-least-once per-record commit (api.clj:33). Here the same dataflow is
  * declared once and runs EITHER batch or streaming (Spark's unified
  * Dataset API): every combinator in [[graft.core.Xform]],
  * [[graft.core.Branch]] and the aggregates in [[graft.agg.Aggregates]]
  * applies unchanged to a streaming DataFrame — this module adds only the
  * genuinely streaming-specific pieces: sources/sinks, watermarking,
  * output-mode plumbing, and streaming-native state (dedup within
  * watermark, KTable-style upserts).
  *
  * Delivery semantics: micro-batch checkpoint + idempotent/transactional
  * sink = exactly-once — strictly stronger than the reference's per-record
  * at-least-once commit (SURVEY.md §1.3.2, documented divergence).
  */
object Streaming {

  /** Kafka source — the twin of the reference's varargs `stream`
    * (api.clj:57-60): ≥1 topics merged into one keyed stream, key/value
    * decoded to strings exactly like the String/String serdes in every
    * reference example (api.clj:170-171). */
  def kafkaStream(spark: SparkSession, bootstrapServers: String, topics: Seq[String]): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topics.mkString(","))
      .option("startingOffsets", "earliest")
      .load()
      .select(
        col("key").cast("string").as("key"),
        col("value").cast("string").as("value"),
        col("topic"), col("partition"), col("offset"),
        col("timestamp").as("ts"))

  /** Kafka sink — the twin of `.to topic` (api.clj:164). The checkpoint
    * directory is the commit log (micro-batch WAL vs the reference's
    * per-record `.commit`). */
  def toKafka(df: DataFrame, bootstrapServers: String, topic: String,
              checkpointDir: String): DataStreamWriter[Row] =
    df.select(col("key").cast("string"), col("value").cast("string"))
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("topic", topic)
      .option("checkpointLocation", checkpointDir)

  /** Streaming tumbling-window aggregation (reference roadmap "windowed
    * aggregates", README.md:30-31). */
  def tumbling(df: DataFrame, tsCol: String, watermark: String, size: String,
               keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    tumblingChained(df.withWatermark(tsCol, watermark), tsCol, size, keys, aggs)

  /** Tumbling aggregation over an ALREADY-watermarked stream — the form
    * for chaining stateful operators (dedup → window, join → window):
    * Spark disallows redefining a watermark mid-stream, so the upstream
    * op owns it and this one only windows. */
  def tumblingChained(df: DataFrame, tsCol: String, size: String,
                      keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy(window(col(tsCol), size) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")

  /** Streaming `distinct` — the transducer's task-local seen-set
    * (SURVEY.md §2.2) made fault-tolerant + bounded by watermark. */
  def distinctWithinWatermark(df: DataFrame, tsCol: String, watermark: String,
                              cols: Seq[String]): DataFrame =
    df.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(cols)

  /** KTable changelog view (reference roadmap README.md:33-34, 69):
    * latest value per key, emitted as upserts. Run with
    * `OutputMode.Update` + a key-upsert sink: max_by keeps the row with
    * the greatest (event-time, tie-break) — one blind shuffle per
    * micro-batch, no window sort. */
  def latestByKey(df: DataFrame, keys: Seq[Column], ts: Column,
                  valueCols: Seq[Column]): DataFrame =
    df.groupBy(keys: _*)
      .agg(max_by(struct(valueCols: _*), struct(ts)).as("__latest"))
      .select(keys ++ Seq(col("__latest.*")): _*)

  /** Stream-stream windowed equi-join — the reference's TODO-listed join
    * family (api.clj:53-55) in its streaming form: both sides watermarked,
    * matches constrained to a time band so state is bounded and evictable.
    * joinType covers inner/left_outer/right_outer/full_outer (outer rows
    * emit once the watermark passes the band). */
  def streamStreamJoin(left: DataFrame, leftTs: String, leftWatermark: String,
                       right: DataFrame, rightTs: String, rightWatermark: String,
                       keys: Seq[String], band: String,
                       joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark(leftTs, leftWatermark)
    val r = right.withWatermark(rightTs, rightWatermark)
    val keyCond = keys.map(k => l(k) === r(k)).reduce(_ && _)
    val timeCond = r(rightTs).between(
      l(leftTs) - expr(s"INTERVAL $band"), l(leftTs) + expr(s"INTERVAL $band"))
    val joined = l.join(r, keyCond && timeCond, joinType)
    // semi/anti output carries ONLY left columns — already unambiguous,
    // and referencing r(k) in a projection over it would fail analysis
    if (joinType == "left_semi" || joinType == "left_anti") joined
    else {
      // ONE unambiguous column per key, COALESCED across sides: on a
      // right_outer/full_outer null-padded row the left key is null and the
      // key value lives in the right copy (plain drop(r(k)) would emit a
      // null key for every right-only row)
      val keyCols = keys.map(k => coalesce(l(k), r(k)).as(k))
      val lCols = l.columns.filterNot(keys.contains).map(l(_))
      val rCols = r.columns.filterNot(keys.contains).map(r(_))
      joined.select(keyCols ++ lCols ++ rCols: _*)
    }
  }

  /** First-match branch fan-out in ONE pass over each micro-batch — the
    * reference's single-evaluation cost model (SURVEY.md §3.2): tag rows
    * with their branch, persist the batch, write each branch through its
    * handler. */
  def branchForeachBatch(df: DataFrame, branches: Seq[(String, Column)],
                         handlers: Map[String, DataFrame => Unit],
                         checkpointDir: String): DataStreamWriter[Row] = {
    val tagged = graft.core.Branch.branchTagged(df, branches)
    tagged.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        try branches.foreach { case (name, _) =>
          handlers.get(name).foreach(h => h(batch.filter(col("branch") === name).drop("branch")))
        } finally batch.unpersist()
        ()
      }
  }

  /** Arbitrary per-key state — the low-level Processor-API parity point
    * (reference roadmap README.md:33-34, 70): checkpointed, fault-tolerant
    * keyed state (strictly stronger than the reference's task-local
    * transducer closures, SURVEY.md §1.3.6). The canonical instance: a
    * running per-key event counter emitting (key, count) updates. */
  def perKeyRunningCount[K: Encoder](grouped: KeyValueGroupedDataset[K, _])(
      implicit outEnc: Encoder[(K, Long)]): Dataset[(K, Long)] = {
    implicit val stateEnc: Encoder[Long] = org.apache.spark.sql.Encoders.scalaLong
    grouped.mapGroupsWithState[Long, (K, Long)](GroupStateTimeout.NoTimeout) {
      (key: K, values: Iterator[_], state: GroupState[Long]) =>
        val next = state.getOption.getOrElse(0L) + values.size
        state.update(next)
        (key, next)
    }
  }

  /** Per-key streaming `take n` — the order/state transducer family
    * (SURVEY.md §2.2 `take`) as fault-tolerant keyed state: emits each
    * key's records only until n have been seen, drops the rest. */
  def perKeyTake[K: Encoder, V: Encoder](grouped: KeyValueGroupedDataset[K, V], n: Int): Dataset[V] = {
    implicit val stateEnc: Encoder[Long] = org.apache.spark.sql.Encoders.scalaLong
    grouped.flatMapGroupsWithState[Long, V](
      OutputMode.Append(), GroupStateTimeout.NoTimeout) {
      (_: K, values: Iterator[V], state: GroupState[Long]) =>
        val seen = state.getOption.getOrElse(0L)
        val out = values.take(math.max(0, n - seen.toInt)).toSeq
        state.update(seen + out.size)
        out.iterator
    }
  }

  /** Punctuate parity — the reference stubs `punctuate` (api.clj:26), the
    * Kafka Streams hook for time-driven callbacks; the Spark twin is a
    * state TIMEOUT in `flatMapGroupsWithState`. Canonical instance:
    * gap-based sessionization with event-time timers — counts per-key
    * records, arms a timer at (last event + gap), and emits the session
    * exactly when the watermark passes it (then clears the state, so
    * memory is bounded by live sessions). Input must be watermarked and
    * grouped by key; emits (key, sessionCount) per closed session. */
  def perKeySessionCount(
      grouped: KeyValueGroupedDataset[String, (String, java.sql.Timestamp)],
      gapMs: Long): Dataset[(String, Long)] = {
    implicit val stateEnc: Encoder[(Long, Long)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong)
    implicit val outEnc: Encoder[(String, Long)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.scalaLong)
    grouped.flatMapGroupsWithState[(Long, Long), (String, Long)](
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (key: String, values: Iterator[(String, java.sql.Timestamp)],
       state: GroupState[(Long, Long)]) =>
        if (state.hasTimedOut) {
          val (n, _) = state.get
          state.remove()
          Iterator.single((key, n)) // the "punctuate" callback firing
        } else {
          // fold events in time order, CLOSING the open session whenever
          // the next event is more than `gapMs` after the last — without
          // this, two sessions of one key arriving before the watermark
          // passes the first's timer would merge into one
          val ts = values.map(_._2.getTime).toSeq.sorted
          var (n, last) = state.getOption.getOrElse((0L, Long.MinValue))
          val closed = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
          ts.foreach { t =>
            if (n > 0 && t - last > gapMs) { closed += ((key, n)); n = 0 }
            n += 1
            last = math.max(last, t)
          }
          state.update((n, last))
          state.setTimeoutTimestamp(last + gapMs)
          closed.iterator
        }
    }
  }

  /** `halt-when` — the transducer vocabulary's control-flow stage
    * (SURVEY.md §2.2): terminate the whole pipeline once a record
    * matching `pred` arrives. Streaming semantics: every micro-batch is
    * handed to `handler`; the batch containing the first match is still
    * processed in full, then the query is stopped from a monitor thread
    * (a query cannot stop itself from inside its own micro-batch thread
    * without deadlocking on the in-flight batch). Halt granularity is
    * therefore the micro-batch, not the record — the documented
    * divergence from the reference's record-at-a-time model
    * (SURVEY.md §1.3.2).
    *
    * Restart semantics: the halting batch is processed AT-LEAST-ONCE.
    * The monitor may stop() after `matched` is set but before that
    * batch's offsets are committed to the checkpoint, in which case a
    * restart from the same checkpointDir replays the batch and re-invokes
    * `handler` — same contract as the reference's per-record commit
    * (Kafka Streams 1.0 is itself at-least-once). Handlers needing
    * exactly-once must be idempotent or commit-aware (e.g. key the side
    * effect on the batchId foreachBatch provides). */
  def haltWhen(df: DataFrame, pred: Column, checkpointDir: String)
              (handler: DataFrame => Unit): StreamingQuery = {
    val matched = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q = df.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // batches already queued when the halting batch finishes may still
        // fire before the monitor's stop lands — skip them, the halt
        // contract ends processing WITH the matching batch
        if (!matched.get()) {
          batch.persist()
          try {
            handler(batch)
            if (!batch.filter(pred).isEmpty) matched.set(true)
          } finally batch.unpersist()
        }
        ()
      }
      .start()
    val monitor = new Thread(() => {
      while (q.isActive && !matched.get()) Thread.sleep(20)
      if (matched.get()) q.stop()
    }, s"graft-halt-when-${q.id}")
    monitor.setDaemon(true)
    monitor.start()
    q
  }

  /** Processing-time punctuate twin — what Kafka Streams 1.0's
    * `punctuate` ACTUALLY was (the reference stubs it, api.clj:26):
    * wall-clock-driven, independent of event time. Counts records per
    * key and flushes (key, count) after `idleMs` of wall-clock
    * inactivity for that key, then clears the state (memory bounded by
    * live keys). Complements [[perKeySessionCount]], the event-time
    * variant — together they cover both timer kinds
    * `flatMapGroupsWithState` offers. Timeouts fire when a subsequent
    * micro-batch runs (processing-time timers need a batch to tick, the
    * standard Structured Streaming caveat). */
  def perKeyIdleFlush[K: Encoder](grouped: KeyValueGroupedDataset[K, _], idleMs: Long)(
      implicit outEnc: Encoder[(K, Long)]): Dataset[(K, Long)] = {
    implicit val stateEnc: Encoder[Long] = org.apache.spark.sql.Encoders.scalaLong
    grouped.flatMapGroupsWithState[Long, (K, Long)](
      OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
      (key: K, values: Iterator[_], state: GroupState[Long]) =>
        if (state.hasTimedOut) {
          val n = state.get
          state.remove()
          Iterator.single((key, n)) // the wall-clock punctuate firing
        } else {
          val n = state.getOption.getOrElse(0L) + values.size
          state.update(n)
          state.setTimeoutDuration(idleMs)
          Iterator.empty
        }
    }
  }

  /** Generic first-claimer streaming core: every doc presents an ARRAY
    * of claim keys (MinHash-LSH bands, SimHash bands, any bucketing);
    * keyed state per key remembers the FIRST doc to ever present it
    * (within a micro-batch, ties go to the lowest doc id). Docs with an
    * empty/null key array carry no signal and emit ONE self-owned
    * sentinel claim (empty key) so every input doc reaches the verdict
    * layer — routed AROUND the stateful op, which keeps them out of the
    * key state entirely (a shared "" group would make the first such doc
    * own every later one; per-doc keys would leak one state row each).
    * The sentinel branch is a second filter over the micro-batch source —
    * the price of zero extra state. */
  def streamingClaims(docs: DataFrame, id: Column,
                      keys: Column): Dataset[(Long, String, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val withKeys = docs.select(id.cast("long").as("doc_id"),
      coalesce(keys, array().cast("array<string>")).as("ks"))
    val banded = withKeys.filter(size(col("ks")) > 0)
      .select(col("doc_id"), explode(col("ks")).as("band_key"))
      .as[(Long, String)]
    val claims = banded.groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Long, String, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (bandKey: String, values: Iterator[(Long, String)], state: GroupState[Long]) =>
          val ids = values.map(_._1).toSeq
          val owner = state.getOption.getOrElse(ids.min)
          if (!state.exists) state.update(owner)
          ids.iterator.map(d => (d, bandKey, owner))
      }
    val sentinels = withKeys.filter(size(col("ks")) <= 0)
      .select(col("doc_id")).as[Long]
      .map(d => (d, "", d))
    claims.union(sentinels)
  }

  /** MinHash-LSH band claims — [[streamingClaims]] bound to the batch
    * `Dedup` banding (shingle → minhash → LSH bands; sub-shingle docs go
    * the sentinel route, the batch keep rule). A shared LSH band IS the
    * near-dup signal (bands hash `rowsPerBand` signature rows), so no
    * post-collision verification step is needed here, unlike SimHash. */
  def streamingBandClaims(docs: DataFrame, id: Column, text: Column,
                          shingleWidth: Int, bands: Int,
                          rowsPerBand: Int): Dataset[(Long, String, Long)] = {
    import graft.functions.GraftFunctions._
    streamingClaims(docs, id,
      when(size(tokens(text)) >= shingleWidth,
        lshBandKeys(minhashSignature(shingles(text, shingleWidth),
          bands * rowsPerBand), bands, rowsPerBand))
        .otherwise(array().cast("array<string>")))
  }

  /** Perceptual (dHash) streaming near-dup claims — the multimodal
    * member of the first-claimer family: each media's four 16-bit
    * dHash bands ([[graft.functions.DHashBands]], computed in the
    * same native pass the batch operator uses) become band keys
    * `"j:bits"`, and the shared [[streamingClaims]] core assigns
    * ownership per band. A re-encoded duplicate (brightness shift,
    * container change that preserves the sampled gradients) claims
    * the SAME four bands and resolves to the first claimer — the
    * streaming twin of [[graft.llm.Multimodal.dHashPairs]]'s
    * candidate stage. Zero-byte payloads arrive as self-owned
    * sentinel claims so the verdict stream covers every input
    * (the minhash short-doc rule). */
  def streamingDHashClaims(media: DataFrame, id: Column,
                           payload: Column): Dataset[(Long, String, Long)] = {
    val bands = graft.functions.DHashBands(payload)
    streamingClaims(media, id,
      when(payload.isNotNull && octet_length(payload) > 0,
        transform(bands, (b, j) =>
          concat(j.cast("string"), lit(":"), b.cast("string"))))
        .otherwise(array().cast("array<string>")))
  }

  /** SimHash streaming near-dup claims with in-state verification: band
    * state holds the first claimer's (id, full simhash), and each claim
    * row carries the hamming distance to that owner — a band collision is
    * only a CANDIDATE (4 sub-bands of 2^15 buckets produce coincidental
    * collisions at corpus scale), exactly why the batch `simhashPairs`
    * filters candidates by `dist <= maxDist`. The verdict layer applies
    * that same filter ([[streamingSimHashDedup]]). Token-less docs
    * (simhash 0 would mass-collide) emit a self-owned sentinel with
    * dist 0. Emits (doc_id, band_key, owner, dist).
    *
    * RECALL CONTRACT — a deliberate divergence from batch `simhashPairs`:
    * distance is verified against the band's FIRST claimer only (state is
    * one (owner, simhash) pair per band, O(bands·buckets) total). A doc
    * within maxDist of a LATER doc sharing the band but > maxDist from
    * the owner is kept — batch, which forms all in-band pairs, would flag
    * it. That is the streaming-dedup trade everywhere (per-band state
    * must stay bounded); batch remains the recall reference, and a
    * periodic batch sweep over the kept set recovers the difference.
    * Same at-least-once framing as the haltWhen note. */
  def streamingSimHashClaims(docs: DataFrame, id: Column, text: Column,
                             width: Int = 60,
                             bands: Int = 4): Dataset[(Long, String, Long, Int)] = {
    import graft.functions.GraftFunctions._
    require(width % bands == 0, s"bands ($bands) must divide width ($width)")
    val w = width / bands
    val mask = (1L << w) - 1L
    val spark = docs.sparkSession
    import spark.implicits._
    val withSh = docs.select(id.cast("long").as("doc_id"),
      simhashN(text, width).as("sh"), size(tokens(text)).as("ntok"))
    val banded = withSh.filter(col("ntok") > 0)
      .select(col("doc_id"), col("sh"),
        explode(array((0 until bands).map(i => concat_ws("_", lit(i),
          shiftrightunsigned(col("sh"), i * w).bitwiseAND(lit(mask)))): _*))
          .as("band_key"))
      .as[(Long, Long, String)]
    val claims = banded.groupByKey(_._3)
      .flatMapGroupsWithState[(Long, Long), (Long, String, Long, Int)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (bandKey: String, values: Iterator[(Long, Long, String)],
         state: GroupState[(Long, Long)]) =>
          val rows = values.toSeq
          val (owner, ownerSh) = state.getOption.getOrElse {
            val first = rows.minBy(_._1); (first._1, first._2)
          }
          if (!state.exists) state.update((owner, ownerSh))
          rows.iterator.map { case (d, sh, _) =>
            (d, bandKey, owner, java.lang.Long.bitCount(sh ^ ownerSh))
          }
      }
    val sentinels = withSh.filter(col("ntok") <= 0)
      .select(col("doc_id")).as[Long].map(d => (d, "", d, 0))
    claims.union(sentinels)
  }

  /** Streaming incremental exact dedup: drop incoming docs whose content
    * hash already exists in a STATIC corpus ledger (yesterday's corpus is
    * fixed; today's stream must not re-admit seen content) — a
    * stream-static LEFT ANTI join, which Spark executes per micro-batch
    * with the static side broadcast or shuffled once. No streaming state
    * at all: the ledger is the state, stored as a table (bucket it by
    * content_hash for a co-located join at lake scale). Within-stream
    * duplicates are NOT handled here — chain
    * [[distinctWithinWatermark]] (bounded) or the claims core for that. */
  def streamingDedupAgainstLedger(docs: DataFrame, content: Column,
                                  ledger: DataFrame,
                                  ledgerHash: Column): DataFrame =
    docs.withColumn("__ch", md5(content))
      .join(ledger.select(ledgerHash.as("__ch")).distinct(), Seq("__ch"), "left_anti")
      .drop("__ch")

  /** Read the `foreachBatch` batchId high-water mark (HWM) carried in a
    * ledger's null-keyed sentinel row; -1 when the ledger has never
    * been merged through a gated merge.
    *
    * This is the replay gate every count-additive `*Idempotent` ledger
    * shares (line, KL, PSI, quarantine, vocab, duel, daily-count,
    * user-value). A merge reads the mark — one bounded 1-row driver
    * read, the price of replay safety — and is a no-op when
    * `batchId <= hwm`: a batch redelivered by at-least-once failure
    * recovery cannot double-count. Otherwise it merges the non-sentinel
    * rows and unions a fresh sentinel: first key NULL, the ledger's
    * mark column = batchId, every other numeric column 0, every other
    * column NULL. Real keys are non-null by construction and `groupBy`
    * keeps the null key in its own group, so the sentinel never
    * collides with data; it rides in the ledger itself, so the caller's
    * single atomic table swap commits data and mark together.
    * foreachBatch batchIds are monotonically increasing and stable
    * across retries, which is exactly what makes `batchId <= hwm` the
    * correct skip test. Ledgers idempotent by construction (set union,
    * `bit_or`, bottom-k) need no mark. */
  private[graft] def ledgerHighWaterMark(ledger: DataFrame, key: Column,
                                         value: Column): Long =
    ledger.filter(key.isNull).select(value.cast("long").as("v"))
      .collect().headOption.map(_.getLong(0)).getOrElse(-1L)

  /** The [[ledgerHighWaterMark]] gate around `merge`, which sees the
    * ledger without its sentinel; `mark` names the column carrying the
    * HWM. The sentinel follows the merged frame's own schema. */
  private def gated(ledger: DataFrame, batchId: Long, key: String,
                    mark: String)(merge: DataFrame => DataFrame): DataFrame = {
    val merged = merge(ledger.filter(col(key).isNotNull))
    if (batchId <= ledgerHighWaterMark(ledger, col(key), col(mark)))
      ledger.select(merged.columns.toSeq.map(col): _*)
    else merged.unionByName(merged.sparkSession.range(1).select(
      merged.schema.fields.toSeq.map { f =>
        (if (f.name == mark) lit(batchId)
         else if (f.name != key && f.dataType
           .isInstanceOf[org.apache.spark.sql.types.NumericType]) lit(0)
         else lit(null)).cast(f.dataType).as(f.name)
      }: _*))
  }

  // Every merge below plans ONE shuffle exchange: the batch side enters
  // as rows BEFORE its aggregation, so the merge's own exchange also
  // does the batch's counting.

  /** Count-additive merge: union the batch `rows` (keys, measures, one
    * row per unit counted — 1 for a count) into the ledger's rows and
    * re-sum every measure per key as LONG, partial sums map-side. With
    * `distinctRows` each distinct batch row counts once (extra columns
    * such as doc_id give it its identity): the union is repartitioned by
    * the keys so the distinct and the sum share that exchange, and a
    * marker column keeps every ledger row apart from every batch row. */
  private def sumInto(ledger: DataFrame, rows: DataFrame, keys: Seq[String],
                      measures: Seq[String],
                      distinctRows: Boolean = false): DataFrame = {
    val sums = measures.map(m => sum(col(m)).cast("long").as(m))
    val all = ledger.select((keys ++ measures).map(col) :+ lit(true).as("__ledger"): _*)
      .unionByName(rows.withColumn("__ledger", lit(false)), allowMissingColumns = true)
    (if (distinctRows) all.repartition(keys.map(col): _*).distinct() else all)
      .groupBy(keys.map(col): _*).agg(sums.head, sums.tail: _*)
  }

  /** Set-union merge: the distinct rows of ledger ∪ `rows`. Idempotent,
    * so a redelivered batch is a no-op without a mark. */
  private def unionInto(ledger: DataFrame, rows: DataFrame): DataFrame =
    ledger.select(rows.columns.toSeq.map(col): _*).unionByName(rows).distinct()

  /** Bottom-k merge: the distinct rows of ledger ∪ `rows`, cut to the
    * first `k` per `group` in `order`, repartitioned by `group` so the
    * distinct and the window share one exchange. A redelivered row is
    * bit-identical and collapses in the distinct, so the merge needs no
    * mark. */
  private def bottomK(ledger: DataFrame, rows: DataFrame, group: String,
                      order: Seq[String], k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(group)).orderBy(order.map(col): _*)
    ledger.select(rows.columns.toSeq.map(col): _*).unionByName(rows)
      .repartition(col(group)).distinct()
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Merge one micro-batch's line doc-frequencies into a persistent
    * line-hash ledger — the ingest-time half of line-level boilerplate
    * dedup ([[graft.llm.Dedup.lineDedup]]'s streaming twin, the
    * exactIncrement ledger discipline). Each arriving doc lives in
    * exactly ONE micro-batch, so per-batch DISTINCT (line-hash, doc)
    * counts are additive across batches: after the last batch the
    * ledger equals the batch run's [[graft.llm.Dedup.lineFrequencies]]
    * over the full corpus, bit for bit (a NULL doc id counts as one
    * doc there and here) — StreamingSpec pins the equality. Replay-proof
    * under the [[ledgerHighWaterMark]] gate (sentinel h=null,
    * n_docs=batchId); [[lineVerdictsAgainstLedger]] ignores the
    * sentinel (a null hash matches nothing). The ledger is (h, n_docs):
    * O(distinct lines) state, stored as a table (bucket by h at lake
    * scale for a co-located merge); line TEXT never enters the ledger
    * or any shuffle key. */
  def mergeLineLedgerIdempotent(ledger: DataFrame, batchDocs: DataFrame,
                                id: Column, text: Column,
                                batchId: Long): DataFrame =
    gated(ledger, batchId, "h", "n_docs")(sumInto(_, graft.llm.Dedup
      .explodeLines(batchDocs, id, text)
      .select(col("h"), col("doc_id"), lit(1L).as("n_docs")),
      Seq("h"), Seq("n_docs"), distinctRows = true))

  /** Scrub docs against a line ledger: lines whose cumulative distinct
    * doc count exceeds `maxDocs` are boilerplate. Run per micro-batch
    * from `foreachBatch` (gate new docs against yesterday's ledger) or
    * once at the end of an ingest window — against the final ledger it
    * reproduces the batch [[graft.llm.Dedup.lineDedup]] verdicts
    * exactly. */
  def lineVerdictsAgainstLedger(docs: DataFrame, id: Column, text: Column,
                                ledger: DataFrame, maxDocs: Long): DataFrame =
    graft.llm.Dedup.applyLineVerdicts(
      graft.llm.Dedup.explodeLines(docs, id, text),
      ledger.filter(col("n_docs") > maxDocs).select(col("h")))

  /** Merge one micro-batch's docs into a persistent KL bucket ledger —
    * the ingest half of [[graft.llm.TextAnalysis.unigramKlDrift]]. Each
    * token occurrence lives in exactly one micro-batch, so per-batch
    * (group, bucket) counts are additive (the line-ledger discipline).
    * Replay-proof under the [[ledgerHighWaterMark]] gate (sentinel
    * g=null, b=0, n_gb=batchId): real groups are non-null by
    * construction ([[graft.llm.TextAnalysis.klBucketCounts]] filters
    * them) and [[graft.llm.TextAnalysis.klFromBucketCounts]] drops null
    * groups, so drift over the gated ledger equals the one-shot batch
    * monitor bit for bit even under replay (StreamingSpec pins it).
    * Ledger is (g, b, n_gb): ≤ |groups|·256 rows of state — the drift
    * monitor every STREAMING ingest wants, recomputable per batch
    * window at constant cost. */
  def mergeKlLedgerIdempotent(ledger: DataFrame, batchDocs: DataFrame,
                              text: Column, group: Column,
                              batchId: Long): DataFrame =
    gated(ledger, batchId, "g", "n_gb")(sumInto(_, graft.llm.TextAnalysis
      .klBuckets(batchDocs, text, group).withColumn("n_gb", lit(1L)),
      Seq("g", "b"), Seq("n_gb")))

  /** Merge one micro-batch's rows into a persistent PSI value-count
    * ledger — the ingest half of [[graft.agg.RobustStats.psi]]. Each
    * row lives in exactly one micro-batch, so per-batch (x, a, b)
    * value counts are additive (the line-ledger discipline).
    * Replay-proof under the [[ledgerHighWaterMark]] gate (sentinel
    * x=null, a=batchId, b=0): real metric values are non-null by
    * construction ([[graft.agg.RobustStats.psiValueCounts]] filters
    * them) and [[graft.agg.RobustStats.psiFromValueCounts]] drops null
    * x, so the index over the gated ledger equals the one-shot batch
    * monitor bit for bit even under replay (StreamingSpec pins it).
    * State is the metric's VALUE DOMAIN — bounded for scores/lengths;
    * pre-quantize a continuous metric before ingest. */
  def mergePsiLedgerIdempotent(ledger: DataFrame, batchRows: DataFrame,
                               x: Column, inRef: Column,
                               batchId: Long): DataFrame =
    gated(ledger, batchId, "x", "a")(sumInto(_, graft.agg.RobustStats
      .psiValueRows(batchRows, x, inRef), Seq("x"), Seq("a", "b")))

  /** Per-batch counts for the embedding ingest guard
    * ([[graft.sources.Tables.embeddings]] / FiniteVector): how many
    * vectors arrived, how many were NULL, how many the guard drops for
    * NaN/±Inf/NULL elements. One zero-shuffle scan + a 3-key agg. */
  def quarantineCounts(batch: DataFrame, vec: Column): DataFrame =
    quarantineCats(batch, vec).groupBy(col("cat")).agg(count(lit(1)).as("n"))

  /** One `cat` row per vector: [[quarantineCounts]] before its count. */
  private def quarantineCats(batch: DataFrame, vec: Column): DataFrame =
    batch.select(
      when(vec.isNull, lit("null_in"))
        .when(!graft.functions.FiniteVector(vec), lit("quarantined"))
        .otherwise(lit("ok")).as("cat"))

  /** Merge one micro-batch into the persistent quarantine-count ledger
    * — the streaming twin of the batch `q_embed_quarantine` lineage
    * line, so a lake-scale ingest dashboard alerts on a quarantine-rate
    * jump (a broken embedder upstream) without re-scanning history.
    * Counts are additive across micro-batches (the line/KL ledger
    * class); state is 3 rows. Replay-proof under the
    * [[ledgerHighWaterMark]] gate (sentinel cat=null, n=batchId): a
    * redelivered batch would otherwise fabricate a quarantine-rate
    * spike on every failure recovery. Real categories are the non-null
    * literals above, so the gated ledger equals the one-shot batch
    * counts bit for bit under replay (StreamingSpec pins it). */
  def mergeQuarantineLedgerIdempotent(ledger: DataFrame, batch: DataFrame,
                                      vec: Column,
                                      batchId: Long): DataFrame =
    gated(ledger, batchId, "cat", "n")(sumInto(_,
      quarantineCats(batch, vec).withColumn("n", lit(1L)), Seq("cat"), Seq("n")))

  /** Merge one micro-batch's events into the persistent (k, day, c)
    * daily-count ledger behind a streaming
    * [[graft.agg.TimeSeries.rollingAnomaly]]: counts are additive
    * across micro-batches (the line/KL ledger class), so the merge is
    * a union + re-sum, replay-gated by the [[ledgerHighWaterMark]]
    * gate (sentinel k=null, day=batchId, c=0). Double-counting a
    * replayed day's volume would both fabricate anomalies on that day
    * AND poison the trailing baselines of the week after it. State is
    * O(keys × days) — calendar-bounded.
    * [[graft.agg.TimeSeries.rollingAnomalyFromDaily]] over the ledger
    * (sentinel filtered) equals the one-shot batch result bit for bit
    * (StreamingSpec pins it, replay included). Bucket by k at lake
    * scale for a co-located merge. */
  def mergeDailyCountLedgerIdempotent(ledger: DataFrame,
                                      batchEvents: DataFrame, key: Column,
                                      ts: Column,
                                      batchId: Long): DataFrame =
    gated(ledger, batchId, "k", "day")(sumInto(_, graft.agg.TimeSeries
      .dayRows(batchEvents, key, ts).withColumn("c", lit(1L)),
      Seq("k", "day"), Seq("c")))

  /** Merge one micro-batch's events into the persistent (u, wk, cw)
    * per-user-period value ledger behind a streaming
    * [[graft.agg.Funnel.cohortValue]]: cent masses are additive across
    * micro-batches (the daily-count ledger class), replay-gated by the
    * [[ledgerHighWaterMark]] gate (sentinel u=null, wk=batchId, cw=0)
    * so at-least-once redelivery cannot double a user's spend — which
    * would inflate every LTV cell the user touches. State is
    * O(users × periods) — calendar-bounded.
    * [[graft.agg.Funnel.cohortValueFromPeriods]] over the ledger
    * (sentinel filtered) equals the one-shot batch matrix bit for bit
    * (StreamingSpec pins it, replay included). Bucket by u at lake
    * scale for a co-located merge. */
  def mergeUserValueLedgerIdempotent(ledger: DataFrame,
                                     batchEvents: DataFrame, user: Column,
                                     ts: Column, value: Column,
                                     batchId: Long,
                                     periodMicros: Long = 604800000000L)
      : DataFrame =
    gated(ledger, batchId, "u", "wk")(sumInto(_, graft.agg.Funnel
      .userValueRows(batchEvents, user, ts, value, periodMicros),
      Seq("u", "wk"), Seq("cw")))

  /** Merge one micro-batch's (user, period) activity rows into a
    * persistent retention ledger — the streaming half of
    * [[graft.agg.Funnel.retention]], whose two-level aggregation
    * Structured Streaming cannot run directly. The ledger is the
    * DISTINCT set of (user_id, wk) rows, so the merge is a set union:
    * associative, commutative AND idempotent — a redelivered
    * `foreachBatch` batch is a no-op with no batchId high-water mark
    * needed (the bloom-ledger class, strictly stronger than the
    * count-additive line/KL ledgers). State is ≤ |users|·|periods|
    * rows — calendar-bounded, not event-bounded — and
    * [[graft.agg.Funnel.retentionFromPeriods]] over the final ledger
    * equals the one-shot batch retention bit for bit (StreamingSpec
    * pins it, replay included). Bucket by user_id at lake scale for a
    * co-located merge. */
  def mergeActivityLedger(ledger: DataFrame, batchEvents: DataFrame,
                          user: Column, ts: Column,
                          periodMicros: Long = 604800000000L): DataFrame =
    unionInto(ledger, graft.agg.Funnel.activityPeriods(
      batchEvents, user, ts, periodMicros))

  /** Merge one micro-batch's (source, content-hash) sightings into the
    * persistent overlap ledger behind a streaming
    * [[graft.llm.Dedup.crossSourceDup]]: the ledger is the DISTINCT
    * (src, h) set, so the merge is a set union — IDEMPOTENT by
    * construction (a redelivered batch re-unions rows already present),
    * no batchId high-water mark needed (the mergeActivityLedger class
    * of ledger, not the count-additive line-ledger class). The
    * cross-source matrix of everything seen so far is one
    * crossSourceDup-shaped self-join over the ledger. State: O(distinct
    * (source, unit)) rows — bucket by h at lake scale so both the merge
    * and the pair join co-locate. */
  def mergeOverlapLedger(ledger: DataFrame, batchDocs: DataFrame,
                         source: Column, content: Column): DataFrame =
    unionInto(ledger, batchDocs.filter(content.isNotNull)
      .select(source.as("src"), md5(content).as("h")))

  /** The cross-source matrix over an overlap ledger — identical output
    * contract to [[graft.llm.Dedup.crossSourceDup]] on the batch union
    * of every micro-batch (StreamingSpec pins the equality). */
  def overlapMatrixFromLedger(ledger: DataFrame): DataFrame =
    ledger.as("a").join(ledger.as("b"),
        col("a.h") === col("b.h") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))

  /** Merge one micro-batch's token counts into a persistent vocabulary
    * ledger (tok, n) — the ingest half of a streaming tokenizer-coverage
    * audit ([[graft.llm.TextAnalysis.oovRate]]'s vocabulary, built
    * incrementally). Count-additive (each token occurrence lives in
    * exactly one micro-batch) and replay-proof under the
    * [[ledgerHighWaterMark]] gate (sentinel tok=null, n=batchId; real
    * tokens are non-empty strings, and the null-keyed row joins nothing
    * in [[oovAgainstVocabLedger]]). State: O(distinct tokens) rows —
    * bucket by tok at lake scale for a co-located merge. */
  def mergeVocabLedgerIdempotent(ledger: DataFrame, batchDocs: DataFrame,
                                 text: Column, batchId: Long): DataFrame =
    gated(ledger, batchId, "tok", "n")(sumInto(_, batchDocs.select(
      explode(graft.functions.GraftFunctions.tokens(text)).as("tok"), lit(1L).as("n")),
      Seq("tok"), Seq("n")))

  /** OOV audit of incoming docs against the ledger's top-`vocabSize`
    * vocabulary — the gate half of the streaming coverage audit: score
    * today's stream against YESTERDAY's accumulated vocab (per batch
    * from `foreachBatch`, or once per ingest window). Against a ledger
    * holding the full corpus it reproduces the batch
    * [[graft.llm.TextAnalysis.oovRate]] verdicts bit for bit
    * (StreamingSpec pins it). The top-k cut is (n DESC, tok ASC) —
    * the same deterministic boundary as the batch build. */
  def oovAgainstVocabLedger(docs: DataFrame, id: Column, text: Column,
                            ledger: DataFrame, vocabSize: Int): DataFrame =
    graft.llm.TextAnalysis.oovAgainstVocab(docs, id, text,
      ledger.filter(col("tok").isNotNull)
        .orderBy(col("n").desc, col("tok").asc).limit(vocabSize)
        .select(col("tok")))

  /** Merge one micro-batch into a per-group priority-sample ledger —
    * the streaming half of
    * [[graft.llm.Selection.prioritySamplePerGroup]]. k-smallest-by-
    * priority is a MONOID: minK(A ∪ B) = minK(minK(A) ∪ B), so the
    * ledger only ever holds k rows per group, the merge is one window
    * pass over (ledger ∪ batch priorities), and — because priorities
    * are pure content hashes — re-merging a redelivered batch
    * reproduces identical (id, priority) rows that the distinct k-cut
    * collapses: idempotent with no batchId mark (the bloom-ledger
    * class). After the last batch the ledger equals the one-shot batch
    * sample bit for bit (StreamingSpec pins it, replay included).
    * State: k·|groups| rows, weight-stream independent. */
  def mergePrioritySampleLedger(ledger: DataFrame, batchDocs: DataFrame,
                                group: Column, id: Column, weight: Column,
                                k: Int, salt: Int = 0): DataFrame =
    bottomK(ledger, graft.llm.Selection.priorities(batchDocs, group, id, weight, salt),
      "grp", Seq("priority", "doc_id"), k)

  /** Merge one micro-batch's keys into a persistent Bloom word ledger —
    * the ingest-time build half of [[graft.llm.Bloom.gate]]: the
    * ledger's (word, wbits) rows and the batch's single-bit rows fold
    * in one word-keyed `bit_or`. bit_or is associative, commutative
    * AND idempotent, so batch boundaries, merge order and re-delivered
    * keys (at-least-once replay!) all leave the ledger equal to the
    * one-shot batch build bit for bit — strictly stronger than the
    * line ledger's additivity, which needs each doc in exactly one
    * batch. Ledger is (word, wbits): at most bits/32 rows of state,
    * stored as a table. */
  def mergeBloomLedger(ledger: DataFrame, batchDocs: DataFrame,
                       key: Column, bits: Int): DataFrame =
    ledger.select(col("word"), col("wbits"))
      .unionByName(graft.llm.Bloom.wordBitRows(
        batchDocs.select(md5(key).as("__h")), col("__h"), bits))
      .groupBy(col("word")).agg(bit_or(col("wbits")).as("wbits"))

  /** Merge one micro-batch's docs into a persistent per-source KMV
    * sketch ledger ((src, h) rows, ≤ k per source — the
    * [[graft.llm.Dedup.kmvSketch]] format): union, distinct, re-trim
    * to the bottom-k. IDEMPOTENT BY CONSTRUCTION, the bloom-ledger
    * class: bottom-k of a set union is insensitive to redelivery (a
    * replayed batch re-offers hashes the distinct already holds), so
    * no high-water mark is needed — min-merge is to order statistics
    * what bit_or is to Bloom bits. After any batch,
    * [[graft.llm.Dedup.kmvJaccardFromSketch]] over the ledger equals
    * the one-shot batch estimate over everything ingested so far,
    * bit for bit (StreamingSpec pins it, replay included). State is
    * ≤ k longs per source — constant per source at any corpus
    * scale. */
  def mergeKmvLedger(ledger: DataFrame, batchDocs: DataFrame,
                     source: Column, content: Column, k: Int): DataFrame =
    bottomK(ledger, batchDocs.filter(content.isNotNull && source.isNotNull)
      .select(source.as("src"),
        graft.functions.GraftFunctions.md5Long(content).as("h")), "src", Seq("h"), k)

  /** Merge one micro-batch's preference duels into a persistent
    * (win, lose, n) count ledger — the streaming half of
    * [[graft.llm.Preference.winMatrix]]/[[graft.llm.Preference
    * .bradleyTerry]]: an arena ingests duels continuously, the
    * leaderboard recomputes from the ledger at constant cost. Each
    * duel lives in exactly one micro-batch, so the per-pair counts
    * are additive, replay-proof under the [[ledgerHighWaterMark]]
    * gate (sentinel win=null, lose=null, n=batchId; win/lose are
    * non-null by construction). State is the |items|²-bounded ordered
    * pair table. */
  def mergeDuelLedgerIdempotent(ledger: DataFrame, batchDuels: DataFrame,
                                batchId: Long): DataFrame =
    gated(ledger, batchId, "win", "n")(sumInto(_,
      batchDuels.select(col("win"), col("lose"), lit(1L).as("n")),
      Seq("win", "lose"), Seq("n")))

  /** Win matrix off the duel ledger — against the final ledger it
    * equals the one-shot batch [[graft.llm.Preference.winMatrix]] bit
    * for bit (StreamingSpec pins it, replay included). The sentinel
    * row drops with the null filter. */
  def winMatrixFromLedger(ledger: DataFrame): DataFrame =
    ledger.filter(col("win").isNotNull)
      .select(least(col("win"), col("lose")).as("item_a"),
        greatest(col("win"), col("lose")).as("item_b"),
        when(col("win") < col("lose"), col("n")).otherwise(0L).as("__wa"),
        col("n"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(sum(col("n")).cast("long").as("n_duels"),
        sum(col("__wa")).cast("long").as("wins_a"))
      .withColumn("win_rate_a",
        col("wins_a").cast("double") / col("n_duels").cast("double"))

  /** Gate docs against a Bloom word ledger: per-doc `maybe_dup`
    * verdicts as the zero-shuffle literal-state projection of
    * [[graft.llm.Bloom.probeWith]]. Run per micro-batch against
    * yesterday's ledger (admit-if-unseen ingest), or against the final
    * ledger, where it equals the batch [[graft.llm.Bloom.gate]]
    * membership verdicts exactly — StreamingSpec pins both the ledger
    * and verdict equalities. */
  def bloomVerdictsAgainstLedger(docs: DataFrame, id: Column, key: Column,
                                 ledger: DataFrame, bits: Int): DataFrame =
    graft.llm.Bloom.probeWith(
      graft.llm.Bloom.toBitArray(ledger, bits), docs, id, key, bits)
      .select(col("doc_id"), col("maybe_dup"))

  /** Per-doc SimHash dedup verdicts over [[streamingSimHashClaims]]: a
    * doc is a duplicate only of a band owner VERIFIED within `maxDist`
    * hamming (the batch `simhashPairs` precision rule — an unverified
    * band collision is just a 15-bit hash coincidence); otherwise kept.
    * An unverified claim is rewritten as self-owned, so
    * [[claimsToVerdicts]] skips it. Same consumption contract as
    * [[streamingMinHashDedup]]. */
  def streamingSimHashDedup(docs: DataFrame, id: Column, text: Column,
                            width: Int = 60, bands: Int = 4,
                            maxDist: Int = 3): DataFrame =
    claimsToVerdicts(streamingSimHashClaims(docs, id, text, width, bands)
      .toDF("doc_id", "band_key", "owner", "dist")
      .withColumn("owner", when(col("dist") > maxDist, col("doc_id"))
        .otherwise(col("owner"))))

  /** Per-doc dedup verdicts from band-claim rows: a doc is KEPT iff every
    * one of its bands was first claimed by itself; otherwise `dup_of` is
    * the lowest prior owner among its collided bands. Plain aggregation —
    * STATELESS when applied per micro-batch: a doc's claims all arrive in
    * its own arrival batch, so aggregating inside `foreachBatch` yields
    * exactly the chained-streaming verdicts with zero doc-level state.
    * That is the lake-scale shape; [[streamingMinHashDedup]] uses the
    * same function as a chained streaming aggregation for convenience. */
  def claimsToVerdicts(claims: DataFrame): DataFrame =
    claims.groupBy(col("doc_id"))
      .agg(min(when(col("owner") =!= col("doc_id"), col("owner"))).as("dup_of"))
      .select(col("doc_id"), col("dup_of"), col("dup_of").isNull.as("kept"))

  /** Streaming MinHash-LSH near-dup dedup: per-doc verdicts over the
    * [[streamingBandClaims]] stream. Short docs arrive as self-owned
    * sentinel claims, so the verdict stream covers EVERY input doc (the
    * batch dedup keeps them too). Aggregation after an Append-mode
    * flatMapGroupsWithState is the supported chained-stateful shape; run
    * the sink in Update mode (a doc's claims all arrive in one
    * micro-batch, so the verdict emitted for that batch is final). State
    * cost: the convenience aggregation retains one row per doc_id ever
    * seen — acceptable for bounded backfills and tests; long-running
    * lake-scale jobs should run [[streamingBandClaims]] with
    * [[claimsToVerdicts]] inside `foreachBatch` instead, which needs no
    * doc-level state at all (and covers short docs identically, since
    * the sentinel claims are part of the shared claims stream). */
  def streamingMinHashDedup(docs: DataFrame, id: Column, text: Column,
                            shingleWidth: Int = 3, bands: Int = 4,
                            rowsPerBand: Int = 4): DataFrame =
    claimsToVerdicts(
      streamingBandClaims(docs, id, text, shingleWidth, bands, rowsPerBand)
        .toDF("doc_id", "band_key", "owner"))
}
