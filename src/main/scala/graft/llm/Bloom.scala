package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-filter membership gate — the broadcast-state alternative to an
  * anti-join shuffle for cross-corpus dedup.
  *
  * At 100 TB the standard "drop docs already in the reference corpus"
  * step (Dedup.exactIncrement, llm/Dedup.scala:47-52) shuffles the
  * incoming corpus against the reference ledger. When the reference key
  * set is large but a small false-positive rate is acceptable as a
  * PREFILTER, the scalable shape is: fold the reference keys into an
  * m-bit Bloom filter (kilobytes-to-megabytes regardless of corpus
  * size), broadcast the bit array as literal state, and gate the
  * incoming scan with a pure projection — zero shuffles on the fact
  * side; only the ~FP-rate survivors proceed to the exact (expensive)
  * check. The same pattern Spark itself applies as runtime-filter
  * pushdown on shuffle joins, here surfaced as a first-class curation
  * operator with explicit false-positive accounting.
  *
  * Hashing: k=4 independent 28-bit positions slice directly off the
  * hex md5 of the key (offsets 1/9/17/25 — disjoint digit ranges of
  * one digest, so ONE md5 per key total), each reduced mod `bits`.
  * md5 is the engine's oracle-parity hash (GraftFunctions.md5Long).
  * Words pack 32 bits per long (`pos >> 5`, `pos & 31`) — NOT 64 —
  * because the oracle twin's `1::BIGINT << 63` raises Out of Range in
  * DuckDB while Spark's shiftleft wraps; capping the shift at 31 keeps
  * the two engines operator-for-operator identical at the cost of a 2×
  * larger (still kilobyte-scale) filter array.
  *
  * The reference engine has no membership surface (state lookups are
  * per-key point gets — reference: src/kafka_streams_clojure/api.clj:102-111);
  * this is driver-mandated extension surface.
  */
object Bloom {

  /** md5-hex slice offsets giving k=4 independent 28-bit draws. */
  private val Offsets = Seq(1, 9, 17, 25)

  /** The k bit positions of a key's md5 hex digest in an m-bit filter.
    * `bits` must be a power of two ≤ 2^28. */
  def positions(md5Hex: Column, bits: Int): Column = {
    require(bits > 0 && bits <= (1 << 28) && (bits & (bits - 1)) == 0,
      s"bits must be a power of two <= 2^28, got $bits")
    array(Offsets.map(o =>
      conv(substring(md5Hex, o, 7), 16, 10).cast("long") % bits): _*)
  }

  /** The DISTRIBUTED (word, wbits) form of the filter — the mergeable
    * ledger shape: bit_or is associative, commutative and idempotent,
    * so per-micro-batch word tables fold into a persistent ledger in
    * any order (and with re-delivered keys) and still equal the
    * one-shot build bit for bit — the property the streaming twin
    * pins. One explode to (word, bit), one word-keyed bit_or aggregate
    * with map-side partial combine; at most `bits/32` rows out however
    * large the key set is. */
  def wordBits(refKeys: DataFrame, md5Hex: Column, bits: Int): DataFrame =
    wordBitRows(refKeys, md5Hex, bits)
      .groupBy(col("word")).agg(bit_or(col("wbits")).as("wbits"))

  /** One (word, wbits) row per key bit, wbits holding that single bit:
    * [[wordBits]] before its bit_or. */
  private[graft] def wordBitRows(refKeys: DataFrame, md5Hex: Column,
                                 bits: Int): DataFrame =
    refKeys
      .select(explode(positions(md5Hex, bits)).as("pos"))
      .select(shiftright(col("pos"), 5).cast("int").as("word"),
        col("pos").bitwiseAND(lit(31L)).cast("int").as("bit"))
      .select(col("word"), expr("shiftleft(CAST(1 AS BIGINT), bit)").as("wbits"))

  /** Collapse a (word, wbits) table to the driver-side long array the
    * probe embeds as literal state. Bounded broadcast state (the
    * centroid discipline, Similarity.scala:277), NOT a data-path
    * collect: `bits/32` longs regardless of corpus size. */
  def toBitArray(words: DataFrame, bits: Int): Array[Long] = {
    val arr = Array.fill(bits / 32)(0L)
    words.select(col("word"), col("wbits")).collect()
      .foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** Fold the (already-hashed) reference keys into an m-bit filter. */
  def buildBits(refKeys: DataFrame, md5Hex: Column, bits: Int): Array[Long] =
    toBitArray(wordBits(refKeys, md5Hex, bits), bits)

  /** Probe docs against a materialized filter: per-doc `maybe_dup`
    * verdicts as a zero-shuffle projection (the filter rides as a
    * literal long-array). The membership-only half of [[gate]] — what a
    * deployment runs per micro-batch against yesterday's ledger. */
  def probeWith(filter: Array[Long], probe: DataFrame, id: Column,
                key: Column, bits: Int): DataFrame = {
    val bloomLit = array(filter.toIndexedSeq.map(lit): _*)
    val withPos = Offsets.indices.foldLeft(
        probe.withColumn("__h", md5(key))
          .withColumn("__pos", positions(col("__h"), bits))) { (df, i) =>
      df.withColumn(s"__w$i",
          shiftright(element_at(col("__pos"), i + 1), 5).cast("int"))
        .withColumn(s"__b$i",
          element_at(col("__pos"), i + 1).bitwiseAND(lit(31L)).cast("int"))
    }
    val maybe = Offsets.indices.map { i =>
      val mask = expr(s"shiftleft(CAST(1 AS BIGINT), __b$i)")
      element_at(bloomLit, col(s"__w$i") + 1).bitwiseAND(mask) === mask
    }.reduce(_ && _)
    withPos.withColumn("maybe_dup", maybe)
      .select(id.as("doc_id"), col("maybe_dup"), col("__h").as("__h"))
  }

  /** Gate `probe` docs against a Bloom filter built from `ref` keys:
    * emit per-doc `maybe_dup` (the filter's verdict — no false
    * negatives by construction) alongside the exact `is_dup` (broadcast
    * membership join), so the query doubles as the filter's
    * false-positive ledger. In deployment only `maybe_dup` survivors
    * reach the exact check (an anti-join on the survivors — the exact
    * side is NOT broadcastable when the ref set is lake-scale, which is
    * the filter's whole premise); both columns here keep the operator
    * oracle-verifiable end-to-end at bench scale.
    *
    * The filter is built IN-ACTION and fused into the probe plan: the
    * (word, wbits) aggregate densifies to a single-row bits/32-long
    * ARRAY (position-indexed `element_at` is O(1); a word→bits MAP
    * lookup would be a linear scan — measured ~20% slower) that rides
    * to the probe scan as a 1-row broadcast. No work happens at
    * query-construction time, the filter never transits the driver,
    * and build + probe share one action (same-window A/B at sf0.1:
    * fused 0.84-1.05 s vs driver-literal 1.23-1.34 s best-of-2, and a
    * second faster cold). The probe side stays a zero-shuffle
    * projection: 4 array lookups + mask tests per row, plus one
    * broadcast hash join for the exact column.
    *
    * [[buildBits]]/[[probeWith]] keep the driver-literal two-action
    * form for the DEPLOYMENT shape — build once against the reference
    * corpus, persist ([[toBitArray]]), probe many batches against the
    * materialized filter (the streaming-ledger path uses exactly
    * that). */
  def gate(ref: DataFrame, probe: DataFrame, id: Column, key: Column,
           bits: Int): DataFrame = {
    // ONE distinct over the ref keys feeds both the filter build and the
    // exact-membership set — identical subplans, so ReuseExchange
    // collapses the second distinct into the first
    val refH = ref.select(md5(key).as("h")).distinct()
    val words = wordBits(refH, col("h"), bits)
    val filt = words
      .agg(map_from_entries(collect_list(struct(col("word"), col("wbits"))))
        .as("__m"))
      .select(transform(sequence(lit(0), lit(bits / 32 - 1)),
        w => coalesce(element_at(col("__m"), w.cast("int")), lit(0L)))
        .as("__bf"))
    val refSet = broadcast(
      refH.select(col("h").as("rh")).withColumn("m", lit(true)))
    val withPos = probe.withColumn("__h", md5(key))
      .withColumn("__pos", positions(col("__h"), bits))
    val maybe = Offsets.indices.map { i =>
      val w = shiftright(element_at(col("__pos"), i + 1), 5).cast("int")
      val mask = expr(
        s"shiftleft(CAST(1 AS BIGINT), CAST(element_at(__pos, ${i + 1}) & 31 AS INT))")
      element_at(col("__bf"), w + lit(1)).bitwiseAND(mask) === mask
    }.reduce(_ && _)
    withPos.crossJoin(broadcast(filt))
      .withColumn("maybe_dup", maybe)
      .join(refSet, col("__h") === col("rh"), "left")
      .select(col("doc_id"), col("maybe_dup"),
        coalesce(col("m"), lit(false)).as("is_dup"))
  }
}
