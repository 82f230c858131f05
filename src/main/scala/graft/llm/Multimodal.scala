package graft.llm

import graft.graph.SmallGraph
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column conventions + processing plumbing (driver
  * north-star). Media payloads are opaque `binary` columns with a typed
  * metadata struct alongside — the schema a 100 TB image/audio/video lake
  * actually uses (payload stays columnar-compressed in parquet; metadata
  * is pruned/pushed independently of the blobs).
  *
  * The metadata is REAL: [[asMediaTable]] derives format/width/height/
  * bit-depth by parsing container header bytes with the native
  * [[graft.functions.MediaDims]] expression (PNG IHDR / JPEG SOFn scan /
  * GIF logical screen) — no codec library, pure byte logic inside the
  * scan, exactly what a curation resolution-gate filters on. Only PIXEL
  * decode remains a stub ([[fakeDecodeFeatures]], an explicit seam for a
  * real codec), because feature extraction genuinely needs one.
  */
object Multimodal {

  /** Canonical media schema: (media_id, payload binary, meta struct). */
  val mediaSchema: StructType = StructType(Seq(
    // nullable: an orphan row whose id was lost upstream must DEGRADE
    // (NULL id propagates, both engines agree) — with nullable=false a
    // single such row kills the whole mapPartitions job with
    // ROW_VALUE_IS_NULL (r15 adversarial NULL-doc_id row, measured)
    StructField("media_id", LongType, nullable = true),
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("bit_depth", IntegerType, nullable = true),
      StructField("n_bytes", LongType, nullable = true))), nullable = true)))

  /** Ingest step: (id, payload) → media table with the meta struct
    * PARSED from the payload's container header bytes
    * ([[graft.functions.MediaDims]] — a codegen'd projection, so the
    * metadata materializes at scan speed with zero shuffles; downstream
    * filters read the struct and never touch the blob again). The
    * payload is projected once and the meta struct reads the projected
    * column, so a large `payload` expression (a synthesized one) is
    * analyzed once, not once per meta field. */
  def asMediaTable(df: DataFrame, id: Column, payload: Column): DataFrame = {
    val dims = graft.functions.MediaDims(col("payload"))
    df.select(id.cast("long").as("media_id"), payload.as("payload"))
      .select(col("media_id"), col("payload"),
        struct(
          when(dims.getField("format") === "unknown",
            lit("application/octet-stream"))
            .otherwise(concat(lit("image/"), dims.getField("format"))).as("mime"),
          dims.getField("width").as("width"),
          dims.getField("height").as("height"),
          dims.getField("bit_depth").as("bit_depth"),
          octet_length(col("payload")).cast("long").as("n_bytes")).as("meta"))
  }

  /** Deterministic test-corpus payload: REAL container header bytes
    * (format and dimensions chosen by id residues) followed by the
    * utf-8 content — so header parsing runs against genuine PNG/JPEG/GIF
    * byte layouts (variable JPEG segment lengths included, forcing a
    * real segment scan) without shipping binary fixtures. id % 4 == 3
    * (and a NULL id) gets NO header: the unknown-format path. One
    * native expression ([[graft.functions.SyntheticPayload]], which
    * states the layout) over a `bigint` id and a `string` content; the
    * residue formula is mirrored in the SQL oracles (entry/LlmQueries). */
  def syntheticPayload(id: Column, content: Column): Column =
    graft.functions.SyntheticPayload(id, content)

  /** STUB pixel decode: deterministic pseudo-features from the payload's
    * LOWERCASE HEX rendering (both engines hex-render bytes identically
    * and DuckDB's md5 only accepts VARCHAR — the q_media_frames
    * discipline). Replace this seam with a real codec (e.g., JNI/ONNX)
    * in production — everything around it (partitioned batch iteration,
    * fixed-dim float output, null-payload passthrough) is the real
    * contract; header METADATA no longer goes through here (it parses
    * natively via [[graft.functions.MediaDims]]). */
  def fakeDecodeFeatures(payload: Array[Byte], dim: Int): Array[Float] = {
    if (payload == null) return null
    val hexChars = "0123456789abcdef"
    val hx = new Array[Byte](payload.length * 2)
    var p = 0
    while (p < payload.length) {
      hx(2 * p) = hexChars((payload(p) >> 4) & 0xF).toByte
      hx(2 * p + 1) = hexChars(payload(p) & 0xF).toByte
      p += 1
    }
    val md = java.security.MessageDigest.getInstance("MD5").digest(hx)
    val out = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      val b = md(i % md.length) & 0xFF
      val mix = (b * 31 + i * 17) % 256
      // double arithmetic, single final rounding to float — reproducible
      // in the SQL oracle (no float/float double-rounding hazard)
      out(i) = ((mix / 255.0) - 0.5).toFloat
      i += 1
    }
    out
  }

  /** Feature-extraction pass: mapPartitions in batches (the Scala twin of
    * Arrow-batched `mapInPandas`) — one decoder instance per partition,
    * batched iteration so a real codec could amortize setup. Output:
    * (media_id, features array<float>). */
  def extractFeatures(spark: SparkSession, media: DataFrame, dim: Int,
                      batchSize: Int = 256): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = true),
      StructField("features", ArrayType(FloatType), nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    media.select(col("media_id"), col("payload")).mapPartitions { it =>
      // per-partition "decoder" setup happens here, once
      it.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { r =>
          // boxed: a NULL id row degrades instead of killing the job
          val id: Any = if (r.isNullAt(0)) null else r.getLong(0)
          val payload = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
          Row(id, fakeDecodeFeatures(payload, dim))
        }
      }
    }(enc)
  }

  /** STUB resize: crop the payload to the target dimension budget
    * (outW*outH bytes) — the deterministic stand-in for a real scaler.
    * Same mapPartitions batch shape as [[extractFeatures]] (one codec
    * instance per partition, batched rows), emitting the full media
    * schema with the meta struct updated to the new dimensions. */
  def resize(media: DataFrame, outW: Int, outH: Int, batchSize: Int = 256): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    val budget = outW * outH
    media.select(col("media_id"), col("payload"), col("meta.mime").as("mime"),
        col("meta.bit_depth").as("bit_depth"))
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { r =>
            val id: Any = if (r.isNullAt(0)) null else r.getLong(0)
            val payload = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
            val resized =
              if (payload == null) null
              else if (payload.length <= budget) payload
              else java.util.Arrays.copyOfRange(payload, 0, budget)
            // null payload → null n_bytes: the mediaSchema convention
            // (asMediaTable's octet_length(NULL) is NULL, not 0);
            // bit depth passes through — scaling changes dims, not depth
            val n: Any = if (resized == null) null else resized.length.toLong
            Row(id, resized, Row(r.getString(2), outW, outH, r.get(3), n))
          }
        }
      }(enc)
  }

  /** "Frame sampling" for sequence media: split payload into fixed-size
    * frames, keep every `stride`-th — pure Column ops, fully pushed into
    * codegen. Emits (media_id, frame_idx, frame binary). */
  def sampleFrames(media: DataFrame, frameBytes: Int, stride: Int): DataFrame = {
    val nFrames = ceil(octet_length(col("payload")).cast("double") / frameBytes).cast("int")
    media
      .filter(col("payload").isNotNull && octet_length(col("payload")) > 0)
      .select(col("media_id"), col("payload"),
        explode(filter(sequence(lit(0), nFrames - 1), i => i % stride === 0)).as("frame_idx"))
      .select(col("media_id"), col("frame_idx"),
        substr(col("payload"), col("frame_idx") * frameBytes + 1, lit(frameBytes)).as("frame"))
  }

  /** Metadata-only scan: prunes the payload column entirely at the parquet
    * reader — the reason metadata lives beside, not inside, the blob. */
  def metaScan(media: DataFrame): DataFrame =
    media.select(col("media_id"), col("meta.mime").as("mime"),
      col("meta.width").as("width"), col("meta.height").as("height"),
      col("meta.bit_depth").as("bit_depth"), col("meta.n_bytes").as("n_bytes"))

  /** Content-defined chunking dedup over binary payloads — the
    * storage-dedup primitive (LBFS/Rabin lineage; FastCDC is the
    * production variant): a chunk boundary falls before byte i wherever
    * the hash of the `window` bytes preceding i is ≡ 0 mod `divisor`,
    * so boundaries are ALIGNMENT-ROBUST — inserting one byte near the
    * front of a payload shifts every fixed-size block but leaves all
    * content-defined chunks after the edit identical, which is exactly
    * why shared-chunk mass detects duplicated media content that
    * offset-based blocking misses. Average chunk ≈ `divisor` bytes; a
    * payload shorter than `window` + 1 bytes is one chunk.
    *
    * The byte semantics (window hash, cuts, chunk hashes) live in the
    * native [[graft.functions.CdcChunks]] scan: one pass over the raw
    * bytes per payload. The lowercase hex rendering survives only as
    * the md5 input of each chunk hash and in the DuckDB oracle (which
    * cannot md5 a BLOB — the q_media_frames discipline), so chunk
    * hashes are hex-string md5s, bit-identical across engines for ANY
    * bytes.
    *
    * Emits per media: (media_id, n_bytes, n_chunks, n_shared,
    * shared_bytes) where a chunk is SHARED when its (hash, length)
    * occurs in ≥ 2 distinct media — per-media shared mass is the
    * storage-dedup yield estimate, and Σ shared_bytes/Σ n_bytes the
    * corpus figure.
    *
    * A NULL or empty payload has no chunks. A NULL media_id is its own
    * output group, and it never makes a chunk shared: "≥ 2 distinct
    * non-NULL media" is min(media_id) < max(media_id), which ignores
    * NULL ids. Rows sharing a media_id sum into one output row.
    *
    * Regime: a small input with an integral media_id (the
    * [[graft.graph.SmallGraph]] regime test against
    * `smallInputThreshold`, default [[SmallCdcMaxBytes]]; 0 forces the
    * cluster branch) runs in ONE task over the codegen'd
    * [[graft.functions.CdcChunks]] projection: lazy, one job, no
    * exchange (see [[smallCdcStats]]). Above it the chunk table is one
    * projection + explode over the payload scan, persisted because it
    * feeds both the share aggregate and the join back; the share test
    * is a plain partial aggregate, no distinct-aggregate shuffle. */
  def cdcChunkStats(media: DataFrame, window: Int = 8, divisor: Int = 32,
                    smallInputThreshold: Long = SmallCdcMaxBytes): DataFrame = {
    val payloads = media
      .filter(col("payload").isNotNull && octet_length(col("payload")) > 0)
    val ids = media.select(col("media_id"))
    if (SmallGraph.isSmall(media, smallInputThreshold) && SmallGraph.integral(ids)) {
      val enc = Encoders.tuple(Encoders.LONG, Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong, Encoders.scalaLong)
      return payloads
        .select(col("media_id").cast("long"),
          graft.functions.CdcChunks(col("payload"), window, divisor).as("c"))
        .coalesce(1)
        .mapPartitions(smallCdcStats)(enc)
        .toDF("media_id", "n_bytes", "n_chunks", "n_shared", "shared_bytes")
        .withColumn("media_id", col("media_id").cast(ids.schema.head.dataType))
    }
    val chunks = graft.core.Caches.track(payloads
      .select(col("media_id"),
        explode(graft.functions.CdcChunks(col("payload"), window, divisor)).as("c"))
      .select(col("media_id"), col("c.ch").as("ch"), col("c.l").as("clen")))
    val share = chunks.groupBy(col("ch"), col("clen"))
      .agg((min(col("media_id")) < max(col("media_id"))).as("shared"))
    chunks.join(share, Seq("ch", "clen"))
      .groupBy(col("media_id"))
      .agg(sum(col("clen")).as("n_bytes"),
        count(lit(1)).as("n_chunks"),
        sum(when(col("shared"), 1L).otherwise(0L)).as("n_shared"),
        sum(when(col("shared"), col("clen")).otherwise(0L)).as("shared_bytes"))
  }

  /** Default input-leaf bound of [[cdcChunkStats]]' single-task
    * regime (16 MiB), below the crossover with the cluster branch. On
    * `tools/gen_sf1.py` replicas of sf0.1's documents, `local[4]`, one
    * task / cluster, warm runs (2 of 3; 2 of 2 at ~61 MiB): 0.45-0.60 /
    * 0.88-1.12 s at 0.57 MiB, 1.8-1.9 / 2.6-2.8 s at 4.4 MiB,
    * 6.4-6.7 / 8.2-8.7 s at 17.7 MiB, then 8.6-9.5 / 8.0-8.6 s at
    * 26.5 MiB, 13.0-13.1 / 10.1-10.5 s at 35.4 MiB and
    * 21.7-22.0 / 18.2-19.8 s at ~61 MiB: past ~20 MiB the serial chunk
    * scan costs more than the cluster's shuffles. */
  val SmallCdcMaxBytes: Long = 16L << 20

  /** The small-input regime of [[cdcChunkStats]]: (media_id, chunks)
    * rows of non-empty payloads in one task. Each (ch, clen) interns to
    * a dense chunk index carrying the min and max non-NULL media_id
    * seen with it; every occurrence buffers (media group, chunk index).
    * One more pass over the buffer sums per media group, a chunk being
    * shared when its min id < its max id. Media groups are the distinct
    * non-NULL ids in first-seen order, then one NULL group. */
  private def smallCdcStats(rows: Iterator[Row])
      : Iterator[(java.lang.Long, Long, Long, Long, Long)] = {
    val media = new graft.core.LongIndex()
    val chunkOf = scala.collection.mutable.HashMap.empty[(String, Long), Int]
    var lo = new Array[Long](1 << 12); var hi = new Array[Long](1 << 12)
    val clen = scala.collection.mutable.ArrayBuilder.make[Long]
    val occGroup = scala.collection.mutable.ArrayBuilder.make[Int]
    val occChunk = scala.collection.mutable.ArrayBuilder.make[Int]
    var sawNull = false
    rows.foreach { r =>
      val g = if (r.isNullAt(0)) { sawNull = true; -1 } else media.intern(r.getLong(0))
      r.getSeq[Row](1).foreach { c =>
        val len = c.getLong(1)
        val k = chunkOf.getOrElseUpdate((c.getString(0), len), {
          val i = chunkOf.size
          if (i == lo.length) {
            lo = java.util.Arrays.copyOf(lo, i << 1); hi = java.util.Arrays.copyOf(hi, i << 1)
          }
          lo(i) = Long.MaxValue; hi(i) = Long.MinValue; clen += len
          i
        })
        if (g >= 0) {
          val id = media.id(g)
          lo(k) = math.min(lo(k), id); hi(k) = math.max(hi(k), id)
        }
        occGroup += g; occChunk += k
      }
    }
    val ng = media.size
    val lens = clen.result(); val gs = occGroup.result(); val cs = occChunk.result()
    // group ng is the NULL media_id
    val nBytes = new Array[Long](ng + 1); val nChunks = new Array[Long](ng + 1)
    val nShared = new Array[Long](ng + 1); val sharedBytes = new Array[Long](ng + 1)
    var o = 0
    while (o < gs.length) {
      val g = if (gs(o) < 0) ng else gs(o); val k = cs(o)
      nBytes(g) += lens(k); nChunks(g) += 1
      if (lo(k) < hi(k)) { nShared(g) += 1; sharedBytes(g) += lens(k) }
      o += 1
    }
    (0 to ng).iterator.filter(g => g < ng || sawNull).map { g =>
      (if (g < ng) Long.box(media.id(g)) else null,
        nBytes(g), nChunks(g), nShared(g), sharedBytes(g))
    }
  }

  /** 64-bit perceptual difference hash (dHash, the aHash/pHash family's
    * robust member): sample the media to an 8×9 grayscale grid, emit
    * bit (r,c) = grid(r,c) > grid(r,c+1) — 8 row-gradient bits × 8
    * rows. Gradient SIGNS survive brightness/contrast shifts and
    * re-encodes that change every byte of the container, which is why
    * perceptual near-dup finds re-encoded images exact/CDC dedup
    * cannot.
    *
    * STUB decode seam (the [[fakeDecodeFeatures]] contract): the
    * "grayscale grid" here samples the PAYLOAD BYTES at 72 evenly
    * spaced offsets — cell i reads byte floor(i·(n−1)/71) off the
    * lowercase-hex rendering (the engine-pair byte accessor) — a
    * deterministic stand-in for decode→resize(9×8)→luma. Swap the grid
    * for a real codec at the [[extractFeatures]] seam; the dHash layer
    * (gradient bits, 4×16-bit bands, the banded hamming join) is the
    * real, scale-tested operator.
    *
    * Emits (media_id, b0..b3, phash): four 16-bit band values — rows
    * 2j,2j+1 of the bit matrix, bit (r%2)·8+c — plus the 16-hex-char
    * rendering. Bands keep every value < 2¹⁶, so no sign games at bit
    * 63 on either engine. Zero-byte payloads drop (nothing to hash).
    *
    * Shape: a pure projection over the payload scan — 72 shared
    * hex-read subexpressions per row, zero shuffles, codegen'd. */
  def dHash(media: DataFrame): DataFrame = {
    // one native pass over the raw bytes ([[graft.functions
    // .DHashBands]]) — the hex-string + 72×substr Column form walked
    // the string per cell (UTF8String.substring is front-scanning),
    // measured 1.2 s → 0.35 s at sf0.1
    val bands = graft.functions.DHashBands(col("payload"))
    media
      .filter(col("payload").isNotNull && octet_length(col("payload")) > 0)
      .select(col("media_id"), bands.as("bs"))
      .select(col("media_id"),
        element_at(col("bs"), 1).as("b0"), element_at(col("bs"), 2).as("b1"),
        element_at(col("bs"), 3).as("b2"), element_at(col("bs"), 4).as("b3"))
      .withColumn("phash", lower(concat(
        lpad(hex(col("b0")), 4, "0"), lpad(hex(col("b1")), 4, "0"),
        lpad(hex(col("b2")), 4, "0"), lpad(hex(col("b3")), 4, "0"))))
  }

  /** Audio-style energy segmentation over payloads — frame energy,
    * silence count (energy-gated VAD) and the speech ratio, via the
    * one-pass [[graft.functions.MediaEnergyStats]] scan. Returns
    * (media_id, n_frames, n_silent, energy_q, silence_ratio);
    * zero-byte payloads emit (0, 0, 0, NULL). */
  def energyScan(media: DataFrame, frameBytes: Int = 16,
                 threshold: Long = 20000L): DataFrame =
    media.filter(col("payload").isNotNull)
      .select(col("media_id"),
        graft.functions.MediaEnergyStats(col("payload"), frameBytes,
          threshold).as("es"))
      .select(col("media_id"), col("es.n_frames").as("n_frames"),
        col("es.n_silent").as("n_silent"),
        col("es.energy_q").as("energy_q"),
        when(col("es.n_frames") === 0L, lit(null).cast("double"))
          .otherwise(col("es.n_silent").cast("double") /
            col("es.n_frames").cast("double")).as("silence_ratio"))

  /** Perceptual near-dup pairs: media whose dHashes differ in ≤
    * `maxDist` of the 64 gradient bits. Banded candidate generation
    * (the [[graft.llm.Dedup.simhashPairs]] discipline): a pair within
    * hamming ≤ 3 must agree EXACTLY on ≥ 1 of the 4 16-bit bands
    * (pigeonhole), so candidates come from 4 equality self-joins on
    * (band_idx, band_value) — never an all-pairs scan — and the
    * verify step is 4 xor/bit_counts on the already-carried bands.
    * Emits (id1, id2, hamming), id1 < id2, deduped across bands. */
  def dHashPairs(media: DataFrame, maxDist: Int = 3): DataFrame = {
    // tracked persist: both sides of the band self-join read the
    // signature table — uncached, the payload-synth + 72-cell hex
    // projection runs once per side (measured 2.1 s → 1.2 s at sf0.1)
    val sig = graft.core.Caches.track(dHash(media))
    val bandArr = array((0 until 4).map(i =>
      struct(lit(i).as("band_idx"),
        Seq(col("b0"), col("b1"), col("b2"), col("b3"))(i)
          .as("band_bits"))): _*)
    val probes = sig.select(col("media_id"), col("b0"), col("b1"),
        col("b2"), col("b3"), explode(bandArr).as("p"))
      .select(col("media_id"), col("b0"), col("b1"), col("b2"), col("b3"),
        col("p.band_idx").as("band_idx"), col("p.band_bits").as("band_bits"))
    val ham = (0 until 4).map(i => bit_count(
        Seq(col("a.b0"), col("a.b1"), col("a.b2"), col("a.b3"))(i)
          .bitwiseXOR(Seq(col("b.b0"), col("b.b1"), col("b.b2"),
            col("b.b3"))(i))).cast("long"))
      .reduce(_ + _)
    probes.as("a").join(probes.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_bits") === col("b.band_bits") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id1"), col("b.media_id").as("id2"),
        ham.as("hamming")).distinct()
      .filter(col("hamming") <= maxDist)
  }
}
