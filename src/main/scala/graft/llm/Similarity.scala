package graft.llm

import graft.functions.CosineSimilarity
import graft.functions.GraftFunctions._
import graft.graph.SmallGraph
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (driver north-star; SURVEY.md §7.1 step 7).
  *
  * Two tiers:
  *  - [[bruteForceTopK]]: exact top-k by cosine — a single codegen'd scan
  *    (no shuffle until the final top-k), the correctness baseline;
  *  - [[lshTopK]] / random-hyperplane LSH: hash every vector once into
  *    sign-pattern buckets, probe only the query's bucket(s) — the scale
  *    path: candidate set is corpus/2^H per probe, independent of corpus
  *    growth in the scan.
  *
  * Hyperplanes are pseudo-random but DETERMINISTIC: component j of plane h
  * is derived from md5("h,j") mapped to [-0.5, 0.5) — reproducible in the
  * SQL oracle and across runs with no RNG state.
  */
object Similarity {

  /** Exact brute-force cosine top-k against a literal query vector.
    * The scan is one whole-stage-codegen pass; `limit` after `orderBy`
    * runs as TakeOrderedAndProject (per-partition heap + driver merge),
    * never a full sort at scale. */
  def bruteForceTopK(df: DataFrame, id: Column, vec: Column,
                     query: Seq[Float], k: Int): DataFrame = {
    val q = lit(query.toArray)
    df.select(id.as("vec_id"), CosineSimilarity(vec, q).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Max dimensionality the plane literals cover (testdata vectors are
    * 64-dim; extra components are simply unused for shorter vectors). */
  val PlaneDim = 64

  /** Scalar-quantization (SQ8) training: per-DIMENSION [min, max] over
    * the corpus — the scalar counterpart of [[pqTrain]]'s per-subspace
    * codebooks, and the calibration every int8 embedding store runs.
    * One posexplode + dim-keyed aggregate collapsing to a dim-row
    * artifact (the centroid discipline: bounded by dimensionality,
    * never corpus size). Returns (d, min_d, max_d) sorted by d. */
  def sqTrain(df: DataFrame, vec: Column): Seq[(Int, Double, Double)] = {
    df.select(posexplode(vec).as(Seq("d", "x")))
      .groupBy(col("d"))
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
  }

  /** SQ8 ADC top-k: each dimension quantizes to a byte code
    * (256 uniform bins over the trained [min, max]; the code round-trips
    * through `floor` + clamp so quantization error is REAL), the
    * candidate score is Σ_d q_d · recon_d with recon at the bin center —
    * the query stays full precision, the classic asymmetric distance.
    * At 100 TB the stored index is dim BYTES per vector (4× smaller
    * than float32) and scoring is a scan + broadcast join against the
    * dim-row stats table.
    *
    * Determinism: per-dimension score terms quantize to fixed-point
    * longs (floor(term·10^9) — the bm25/lm discipline) so the cross-
    * dimension sum is integer math, order-independent and bit-equal to
    * the oracle's ungrouped SQL aggregate. */
  def sq8TopK(df: DataFrame, id: Column, vec: Column,
              stats: Seq[(Int, Double, Double)], query: Seq[Float],
              k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val statsDf = stats.map { case (d, mn, mx) =>
      (d, mn, mx, query(d).toDouble)
    }.toDF("d", "mn", "mx", "qd")
    df.select(id.as("vec_id"), posexplode(vec).as(Seq("d", "x")))
      .join(broadcast(statsDf), "d")
      .select(col("vec_id"),
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(lit(255L), greatest(lit(0L),
            floor((col("x").cast("double") - col("mn")) /
              (col("mx") - col("mn")) * lit(256.0)).cast("long"))))
          .as("c"),
        col("mn"), col("mx"), col("qd"))
      .select(col("vec_id"),
        floor(col("qd") * (col("mn") +
          (col("c").cast("double") + lit(0.5)) * (col("mx") - col("mn")) /
            lit(256.0)) * lit(1e9)).cast("long").as("tq"))
      .groupBy(col("vec_id"))
      .agg((sum(col("tq")).cast("double") / lit(1e9)).as("sq_score"))
      .orderBy(col("sq_score").desc, col("vec_id"))
      .limit(k)
  }

  /** Deterministic hyperplane component j of plane h: first 4 bytes of
    * md5("plane{h}|{j}") as unsigned, mapped to [-0.5, 0.5). Computed ONCE
    * at plan-authoring time and embedded as array literals — the md5
    * derivation is row-independent, so deriving it per row (the naive HOF
    * form) costs nPlanes×dim md5 calls per vector for identical values.
    * The SQL oracle derives the same constants with the same formula. */
  def planeComponents(h: Int, dim: Int = PlaneDim): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dim).map { j =>
      md.reset()
      val d = md.digest(s"plane$h|$j".getBytes("UTF-8"))
      val v = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) | ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      v / 4294967296.0 - 0.5
    }.toArray
  }

  /** Sign-bit bucket id from `nPlanes` random hyperplanes (one BIGINT).
    * The plane literal is sliced to the ACTUAL vector length, so any
    * dim ≤ PlaneDim gets the same components the SQL oracle derives for
    * that dim; dim > PlaneDim raises instead of silently null-padding the
    * dot product (zip_with pads the shorter side with nulls, which would
    * collapse every vector into bucket 0). */
  def hyperplaneBucket(vec: Column, nPlanes: Int): Column = {
    val dimGuard = when(size(vec) > PlaneDim,
      raise_error(format_string(
        s"hyperplane_bucket: vector dim %d exceeds PlaneDim $PlaneDim", size(vec)))
        .cast("long")).otherwise(lit(0L))
    val bits = (0 until nPlanes).map { h =>
      val planes = slice(lit(planeComponents(h)), lit(1), size(vec))
      val d = aggregate(
        zip_with(vec, planes, (x, c) => x.cast("double") * c),
        lit(0.0), (acc, v) => acc + v)
      when(d >= 0, shiftleft(lit(1L), h)).otherwise(lit(0L))
    }.reduce((a, b) => a + b)
    dimGuard + bits
  }

  /** Corpus-side bucketing pass: (vec_id, bucket). Computed once, reusable
    * across queries (write out / cache as the "index"). */
  def buildLshIndex(df: DataFrame, id: Column, vec: Column, nPlanes: Int): DataFrame =
    df.select(id.as("vec_id"), vec.as("v"), hyperplaneBucket(vec, nPlanes).as("bucket"))

  /** ANN top-k via TRUE multi-probe LSH (Lv et al., VLDB 2007): probe the
    * query's own bucket plus the `nProbes - 1` hamming-1 neighbor buckets
    * whose hyperplane boundary the query sits CLOSEST to — the buckets
    * likeliest to hold near misses. Recall < 1 by construction; nProbes
    * caps at 1 + nPlanes (the full hamming-1 neighborhood).
    *
    * The probe set is computed driver-side from the query literal (the
    * plane components are driver constants), so the corpus-side plan is a
    * JOINLESS `bucket IN (...)` filter — against a STORED index table the
    * predicate pushes down to the reader and prunes at the scan. */
  def lshTopK(index: DataFrame, query: Seq[Float], nPlanes: Int, k: Int,
              nProbes: Int = 1): DataFrame = {
    require(query.length <= PlaneDim,
      s"lshTopK: query dim ${query.length} exceeds PlaneDim $PlaneDim")
    // per-plane signed boundary distance of the query, same index-order
    // double accumulation as hyperplaneBucket / the SQL oracle
    val dots = (0 until nPlanes).map { h =>
      val pc = planeComponents(h)
      var s = 0.0; var j = 0
      while (j < query.length) { s += query(j).toDouble * pc(j); j += 1 }
      s
    }
    val qb = dots.zipWithIndex.map { case (d, h) => if (d >= 0) 1L << h else 0L }.sum
    val flips = dots.zipWithIndex
      .sortBy { case (d, h) => (math.abs(d), h) } // closest boundary first, h tie-break
      .take(math.max(0, math.min(nProbes, nPlanes + 1) - 1))
      .map { case (_, h) => qb ^ (1L << h) }
    val probeSet = (qb +: flips).distinct
    val qCol = lit(query.toArray)
    index.filter(col("bucket").isin(probeSet: _*))
      .select(col("vec_id"), CosineSimilarity(col("v"), qCol).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** All-pairs-above-threshold via LSH buckets (the scale path for
    * embedding near-dup): pairs are only formed WITHIN a bucket. */
  def lshBucketedPairs(df: DataFrame, id: Column, vec: Column,
                       nPlanes: Int, threshold: Double): DataFrame = {
    val idx = buildLshIndex(df, id, vec, nPlanes)
    idx.as("a").join(idx.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        CosineSimilarity(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** IVF-style ANN: partition the corpus into Voronoi cells around a
    * fixed centroid set (here: deterministic — the vectors with ids below
    * `nCentroids`, mirroring the SQL oracle; production seeds via
    * [[kmeans]], the plan shape is identical), assign each vector to its
    * nearest centroid ONCE, then
    * answer queries by scanning only the query's cell. The assignment is
    * a broadcast cross-join + per-vector top-1 — one corpus scan; probes
    * touch corpus/C of the data. Ties on cosine break to the lowest
    * centroid id (deterministic). */
  def ivfAssign(df: DataFrame, id: Column, vec: Column, nCentroids: Int): DataFrame = {
    val v = df.select(id.as("vec_id"), vec.as("v"))
    val cents = v.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    ivfAssignWith(df, id, vec, cents)
  }

  /** IVF assignment against an explicit centroid table (cid, cv) — e.g.
    * the output of [[kmeans]]. Broadcast cross-join + per-vector argmax:
    * one corpus scan, no corpus shuffle beyond the argmax hash-agg. */
  def ivfAssignWith(df: DataFrame, id: Column, vec: Column, centroids: DataFrame): DataFrame = {
    val v = df.select(id.as("vec_id"), vec.as("v"))
    val cents = centroids.select(col("cid"), col("cv"))
    val scored = v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("cid"),
        graft.functions.CosineSimilarity(col("v"), col("cv")).as("ccos"))
    // per-vector argmax as max_by over (ccos, -cid): hash-aggregate with
    // map-side combine instead of a sort-window — ties go to the LOWEST
    // centroid id (max of -cid), same pick as ORDER BY ccos DESC, cid
    scored.groupBy(col("vec_id"))
      .agg(max_by(struct(col("v"), col("cid")),
        struct(col("ccos"), -col("cid"))).as("__best"))
      .select(col("vec_id"), col("__best.v").as("v"), col("__best.cid").as("cid"))
  }

  /** Multi-cell IVF probe — the standard IVF recall knob: scan the
    * `nProbes` cells whose CENTROIDS are closest to the query vector
    * instead of only the query's own cell (a near-boundary query's true
    * neighbors often sit in the adjacent Voronoi cell). Centroid ranking
    * is a broadcast-sized computation (k centroids); the corpus-side work
    * is one equi-join on cid touching ~nProbes/k of the data. */
  def ivfTopKProbes(assigned: DataFrame, centroids: DataFrame, queryId: Long,
                    k: Int, nProbes: Int): DataFrame = {
    // NOT a second corpus pass: the grouping-key filter pushes through the
    // argmax aggregate and the centroid cross-join down to the scan
    // (PushedFilters: EqualTo(vec_id, queryId)), so this side reads one key
    val q = assigned.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    val probeCells = centroids.select(col("cid"), col("cv")).crossJoin(broadcast(q))
      .select(col("cid"), col("qv"),
        graft.functions.CosineSimilarity(col("cv"), col("qv")).as("qcos"))
      .orderBy(col("qcos").desc, col("cid"))
      .limit(nProbes)
      .select(col("cid"), col("qv"))
    assigned.join(broadcast(probeCells), Seq("cid"))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), graft.functions.CosineSimilarity(col("v"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Incremental IVF index maintenance (upsert + tombstone): assign
    * ONLY the delta batch against the FROZEN centroids, union it with
    * the stored assignment, and anti-join the tombstoned ids away —
    * the production discipline for a continuously-ingested vector
    * store (re-training centroids per batch would re-shuffle the
    * whole index; freezing them keeps the merge O(|delta|)).
    *
    * Invariant (spec-pinned): because assignment is a pure per-vector
    * function of the centroids, the merged index is BIT-IDENTICAL to
    * a full rebuild over (base ∪ delta) − tombstones. Centroid drift
    * from a skewed delta is the operational trade — the monitor for
    * it is the per-cell composition this feeds ([[ivfAssignWith]]
    * re-train cadence is a policy knob, not an engine concern).
    *
    * Shape: one broadcast-assign scan of the delta only; the stored
    * base never recomputes; tombstones broadcast into a left-anti
    * hash join. */
  def ivfUpsert(assignedBase: DataFrame, delta: DataFrame, deltaId: Column,
                deltaVec: Column, centroids: DataFrame,
                tombstones: DataFrame): DataFrame =
    assignedBase
      .unionByName(ivfAssignWith(delta, deltaId, deltaVec, centroids))
      .join(broadcast(tombstones.select(col("vec_id")).distinct()),
        Seq("vec_id"), "left_anti")

  /** IVF probe: top-k by exact cosine within the query vector's cell. */
  def ivfTopK(assigned: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = assigned.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), col("cid").as("qcid"))
    assigned.join(broadcast(q), col("cid") === col("qcid"))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id"), graft.functions.CosineSimilarity(col("v"), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Per-group, per-dimension embedding centroids with ORDER-INDEPENDENT
    * accumulation: each component is quantized to fixed-point
    * (floor(x * 2^20) as BIGINT) before summing, so the distributed sum is
    * exact integer math — independent of partial-aggregation order — and
    * the final mean is two deterministic double ops. A naive double mean
    * varies with partition merge order and can't be verified against a
    * single-threaded oracle (nor reproduced run-to-run on a cluster);
    * 2^-20 quantization error (~1e-6) is far below embedding noise. This
    * is the centroid step IVF/k-means training needs at 100 TB: one
    * explode + one hash-agg shuffle of (group, dim) longs. */
  def quantizedCentroids(df: DataFrame, groupKey: Column, vec: Column): DataFrame = {
    val Q = 1048576.0 // 2^20
    df.select(groupKey.as("g"), posexplode(vec).as(Seq("pos", "x")))
      .groupBy(col("g"), col("pos"))
      .agg(sum(floor(col("x").cast("double") * Q).cast("long")).as("qsum"),
        count(lit(1)).as("n"))
      .select(col("g"), col("pos").cast("long").as("pos"),
        ((col("qsum").cast("double") / Q) / col("n")).as("centroid"), col("n"))
  }

  /** Deterministic distributed k-means (cosine metric) — the IVF training
    * step [[ivfAssign]]'s scaladoc promises: initialize with the k
    * lowest-id vectors, then iterate assign (broadcast centroids, per-row
    * argmax — no shuffle of the corpus beyond the centroid agg) and
    * re-center ([[quantizedCentroids]] — exact fixed-point accumulation,
    * so every iteration is reproducible run-to-run and cluster-to-local).
    * Centroids are COLLECTED to the driver between iterations (k·dim
    * floats — broadcast state, not data): lineage stays O(1) deep per
    * iteration instead of growing with the iteration count.
    * Returns (cid, cv array<float>, n members). */
  def kmeans(df: DataFrame, id: Column, vec: Column, k: Int, iters: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    kmeansCentroids(df, id, vec, k, iters).toDF("cid", "cv", "n")
  }

  /** [[kmeans]]'s driver-side result: the trained (cid, centroid, n)
    * rows as plain Scala data, sorted by centroid id. This IS the index
    * artifact (k·dim floats) — callers that train once and reuse across
    * queries memoize this form rather than the DataFrame wrapper. */
  def kmeansCentroids(df: DataFrame, id: Column, vec: Column, k: Int,
                      iters: Int): Seq[(Long, Array[Float], Long)] = {
    val v = df.select(lit(0).as("s"), id.as("vec_id"), vec.as("v"))
    kmeansSlots(v, slots = 1, k, iters).toSeq
      .map { case ((_, cid), (cv, n)) => (cid, cv, n) }
      .sortBy(_._1)
  }

  /** The shared deterministic k-means engine: one independent k-means per
    * SLOT, all slots iterating in the same distributed jobs. Input rows
    * are (s slot, vec_id, v subvector) with every vec_id appearing once
    * per slot. [[kmeans]] is the single-slot instance; [[pqTrain]] runs
    * one slot per PQ subspace — keeping them on one engine is what makes
    * the per-subspace oracle CTEs provably equal to the fused run.
    *
    * Per slot: seeds are the k LOWEST vec_ids (not `id < k`, which
    * silently under-seeds when the id space is sparse or not zero-based);
    * assignment is argmax cosine with ties to the lowest centroid id;
    * re-centering goes through the fixed-point [[quantizedCentroids]]
    * sums, so results are independent of row order and partitioning; a
    * cluster that empties RETAINS its previous centroid (n = 0) so every
    * slot always has exactly k cells. The training set is persisted for
    * the iteration loop (each pass re-reads it; at lake scale it is a
    * SAMPLE of the corpus — train on 1%, assign all 100%), and centroids
    * are collected driver-side between iterations (slots·k·dim floats —
    * broadcast state, not data), keeping lineage O(1) per iteration. */
  private def kmeansSlots(v: DataFrame, slots: Int, k: Int,
                          iters: Int): Map[(Int, Long), (Array[Float], Long)] = {
    val spark = v.sparkSession
    import spark.implicits._
    val pv = v.persist()
    // every vec_id appears once per slot, so ordering by (vec_id, s) and
    // taking k*slots rows seeds each slot with the same k lowest ids
    var cents: Map[(Int, Long), (Array[Float], Long)] =
      pv.orderBy(col("vec_id"), col("s")).limit(k * slots)
        .select(col("s"), col("vec_id"), col("v")).as[(Int, Long, Array[Float])]
        .collect().map { case (s, cid, cv) => (s, cid) -> (cv, 0L) }.toMap
    var i = 0
    while (i < iters) {
      val centDf = cents.toSeq.map { case ((s, cid), (cv, _)) => (s, cid, cv) }
        .toDF("s", "cid", "cv")
      val assigned = pv.join(broadcast(centDf), "s")
        .select(col("s"), col("vec_id"), col("v"), col("cid"),
          CosineSimilarity(col("v"), col("cv")).as("ccos"))
        .groupBy(col("s"), col("vec_id"))
        .agg(max_by(struct(col("v"), col("cid")), struct(col("ccos"), -col("cid"))).as("__b"))
        .select(col("s"), col("__b.v").as("v"), col("__b.cid").as("cid"))
      val updated = quantizedCentroids(assigned, struct(col("s"), col("cid")), col("v"))
        .groupBy(col("g"))
        .agg(sort_array(collect_list(struct(col("pos"), col("centroid")))).as("pc"),
          max(col("n")).as("n"))
        .select(col("g.s"), col("g.cid"),
          transform(col("pc"), x => x.getField("centroid").cast("float")).as("cv"),
          col("n"))
        .as[(Int, Long, Array[Float], Long)]
        .collect().map { case (s, cid, cv, n) => (s, cid) -> (cv, n) }.toMap
      cents = cents.map { case (key, (cv, _)) => key -> updated.getOrElse(key, (cv, 0L)) }
      i += 1
    }
    // every iteration ended in a driver collect, so nothing downstream
    // holds lineage into the persisted training set — safe to release
    pv.unpersist(blocking = false)
    cents
  }

  // ---- Product quantization (Jégou et al., TPAMI 2011) -----------------

  /** Subvector s of m: the contiguous dim/m-slice. Dim must be divisible
    * by m (standard PQ constraint) — RAISES otherwise: size(vec)/m is
    * double division that slice's int cast silently truncates, so an
    * odd dim would misslice (drop trailing elements) and quietly diverge
    * from the oracle's exact integer split instead of failing. */
  private def subVec(vec: Column, s: Int, m: Int): Column = {
    val dimGuard = when(pmod(size(vec), lit(m)) =!= 0,
      raise_error(format_string(
        s"pq subvec: vector dim %d not divisible by m=$m", size(vec)))
        .cast("int")).otherwise(lit(0))
    slice(vec, dimGuard + (size(vec) / m).cast("int") * s + 1,
      (size(vec) / m).cast("int"))
  }

  /** Train a PQ codebook: the deterministic [[kmeans]] recurrence run
    * independently on each of the m contiguous subspaces — FUSED into one
    * distributed pass via [[kmeansSlots]] (one slot per subspace), so
    * every iteration is a single job covering all m sub-problems instead
    * of m sequential ones (same total floats — m× rows of dim/m each;
    * per-job fixed overhead is the real cost at iteration granularity).
    * Bit-identical to per-subspace training: assignment is per-row, the
    * fixed-point centroid sums are order-independent, and the seeds (the
    * k lowest ids) are the same in every subspace. Returns the m
    * codebooks driver-side, each sorted by centroid id — m·k·(dim/m)
    * floats, codebook-sized state like the k-means centroids themselves,
    * NOT data. At 100 TB: train on a sample, encode everything. */
  def pqTrain(df: DataFrame, id: Column, vec: Column, m: Int, k: Int,
              iters: Int): Seq[Seq[(Long, Array[Float])]] = {
    val subs = array((0 until m).map(s => subVec(vec, s, m)): _*)
    val v = df.select(id.as("vec_id"), posexplode(subs).as(Seq("s", "v")))
      .select(col("s"), col("vec_id"), col("v"))
    val cents = kmeansSlots(v, slots = m, k, iters)
    (0 until m).map { s =>
      cents.collect { case ((`s`, cid), (cv, _)) => (cid, cv) }.toSeq.sortBy(_._1)
    }
  }

  /** Argmax-cosine codebook RANK (0..k-1) for `v` against LITERAL
    * centroids, which MUST be pre-sorted by centroid id (as [[pqTrain]]
    * returns them) — ties go to the lowest rank = lowest centroid id, the
    * same tie discipline as [[ivfAssignWith]]. Emitting the rank rather
    * than the raw centroid id keeps codes dense ints regardless of the id
    * space (64-bit sparse ids would overflow an int code column). A pure
    * projection: no join. */
  private def argmaxRank(v: Column, cents: Seq[(Long, Array[Float])]): Column = {
    val scored = array(cents.zipWithIndex.map { case ((_, cv), r) =>
      struct(CosineSimilarity(v, lit(cv)).as("s"), lit(-r).as("nr"))
    }: _*)
    (-array_max(scored).getField("nr")).cast("int")
  }

  /** Encode each vector as m small codebook ranks — 4·dim bytes of float
    * down to m dense int codes (one byte each for k ≤ 256). The codebooks
    * are plan LITERALS, so encoding is a joinless single-pass projection
    * at scan speed. Output: (vec_id, code_0 … code_{m-1}), where code_s
    * indexes codebooks(s) in centroid-id order. */
  def pqEncode(df: DataFrame, id: Column, vec: Column,
               codebooks: Seq[Seq[(Long, Array[Float])]]): DataFrame = {
    val m = codebooks.length
    val codeCols = codebooks.zipWithIndex.map { case (cents, s) =>
      argmaxRank(subVec(vec, s, m), cents).as(s"code_$s")
    }
    df.select(id.as("vec_id") +: codeCols: _*)
  }

  /** ADC (asymmetric distance computation) top-k over PQ codes: the query
    * stays full-precision, each candidate's score is the sum of
    * per-subspace dot products between the query slice and the candidate's
    * CODE centroid — dot decomposes exactly across subspaces, so the scan
    * never touches the original vectors. The m·k dot products are
    * precomputed driver-side into per-code lookups (the classic ADC
    * table), making scoring a joinless when-chain projection. */
  def pqAdcTopK(encoded: DataFrame, codebooks: Seq[Seq[(Long, Array[Float])]],
                query: Seq[Float], k: Int): DataFrame =
    encoded.select(col("vec_id"), adcScore(codebooks, query).as("adc_score"))
      .orderBy(col("adc_score").desc, col("vec_id"))
      .limit(k)

  /** The ADC when-chain score for the m code columns of an encoded row —
    * shared by [[pqAdcTopK]] and [[ivfPqTopK]]. */
  private def adcScore(codebooks: Seq[Seq[(Long, Array[Float])]],
                       query: Seq[Float]): Column = {
    val m = codebooks.length
    val subLen = query.length / m
    codebooks.zipWithIndex.map { case (cents, s) =>
      val qs = query.slice(s * subLen, (s + 1) * subLen)
      val lut = cents.zipWithIndex.map { case ((_, cv), r) =>
        var d = 0.0; var j = 0
        while (j < qs.length) { d += qs(j).toDouble * cv(j).toDouble; j += 1 }
        r -> d
      }
      lut.foldLeft(lit(Double.NegativeInfinity)) { case (acc, (r, d)) =>
        when(col(s"code_$s") === r, lit(d)).otherwise(acc)
      }
    }.reduce(_ + _)
  }

  /** Build the IVF-PQ index table: one projection emitting each vector's
    * coarse cell (the RANK of the argmax coarse centroid — `coarse` must
    * be pre-sorted by centroid id, as all trainers here return) plus its
    * m PQ codes. This is the table you'd WRITE partitioned/bucketed by
    * `cell` (see [[graft.sources.TableLayout]]) — at 100 TB the index is
    * m+1 small ints per vector instead of 4·dim bytes, and a probe scan
    * prunes to nProbes/|cells| of it. */
  def pqIndex(df: DataFrame, id: Column, vec: Column,
              coarse: Seq[(Long, Array[Float])],
              codebooks: Seq[Seq[(Long, Array[Float])]]): DataFrame = {
    val m = codebooks.length
    val cols = argmaxRank(vec, coarse).as("cell") +:
      codebooks.zipWithIndex.map { case (cents, s) =>
        argmaxRank(subVec(vec, s, m), cents).as(s"code_$s")
      }
    df.select(id.as("vec_id") +: cols: _*)
  }

  /** IVF-PQ top-k (the standard large-scale ANN composition): pick the
    * nProbes coarse cells nearest the query DRIVER-side (the coarse
    * centroid set is k·dim floats — index-order cosine, bit-identical to
    * [[graft.functions.CosineSimilarity]]), then scan only those cells of
    * the [[pqIndex]] table and ADC-score the codes. The whole read side is
    * a partition-prunable `cell IN (...)` filter plus a joinless
    * projection into TakeOrderedAndProject — no join, no shuffle, and the
    * raw vectors are never touched. */
  def ivfPqTopK(index: DataFrame, coarse: Seq[(Long, Array[Float])],
                codebooks: Seq[Seq[(Long, Array[Float])]],
                query: Seq[Float], nProbes: Int, k: Int): DataFrame = {
    val probes = coarse.zipWithIndex.map { case ((_, cv), cell) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0; var j = 0
      while (j < math.min(query.length, cv.length)) {
        val a = query(j).toDouble; val b = cv(j).toDouble
        dot += a * b; na += a * a; nb += b * b; j += 1
      }
      val cos = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
      (cell, cos)
    }.sortBy { case (cell, cos) => (-cos, cell) }.take(nProbes).map(_._1)
    index.filter(col("cell").isin(probes: _*))
      .select(col("vec_id"), adcScore(codebooks, query).as("adc_score"))
      .orderBy(col("adc_score").desc, col("vec_id"))
      .limit(k)
  }

  /** Two-stage retrieval (candidate generation + refine): ADC top-R over
    * the PQ codes picks R candidates cheaply, then ONLY those R rows are
    * re-ranked by exact cosine against the raw vectors — the standard
    * recall fixer for quantized search. The R candidate ids are collected
    * driver-side (R longs), so the refine pass is a pushable `vec_id IN`
    * filter on the corpus scan feeding a heap top-k: at 100 TB the exact
    * arithmetic touches R rows, never the corpus. */
  def pqRefineTopK(encoded: DataFrame, corpus: DataFrame, corpusId: Column,
                   corpusVec: Column, codebooks: Seq[Seq[(Long, Array[Float])]],
                   query: Seq[Float], r: Int, k: Int): DataFrame = {
    import encoded.sparkSession.implicits._
    val cand = pqAdcTopK(encoded, codebooks, query, r)
      .select(col("vec_id")).as[Long].collect().toIndexedSeq
    bruteForceTopK(corpus.filter(corpusId.isin(cand: _*)),
      corpusId, corpusVec, query, k)
  }

  /** Shared SQL text of a quantized-sum mean: (Σ floor(x·10⁹)) / n,
    * un-quantized once — both engines evaluate it verbatim. */
  def meanQSql(sum: String, n: String): String =
    s"((CAST($sum AS DOUBLE) / CAST($n AS DOUBLE)) / 1.0E9)"

  /** Per-cluster assignment-quality audit — the silhouette-lite check a
    * clustering-backed stage (IVF index, SemDeDup/D4 screens) runs
    * before trusting its partition of the corpus. Per vector: cosine to
    * its own (argmax) centroid = COHESION, and the margin over the
    * runner-up centroid = SEPARATION (≥ 0 by construction; near-zero
    * margins are boundary vectors whose assignment a re-train could
    * flip — a cluster full of them is not a real cluster). Per cluster:
    * n, mean cohesion, mean margin, min margin (the worst boundary
    * case). Tie rule matches every assigner in this file: equal
    * cosines go to the LOWER centroid id.
    *
    * Determinism: per-vector doubles quantize through floor(·10⁹) into
    * longs before the cross-row sums (the lm-score discipline); means
    * divide once via [[meanQSql]]'s shared text.
    *
    * 100 TB posture: centroids are a driver artifact (k·dim floats —
    * the centroid discipline), embedded as one LITERAL array column, so
    * the whole per-vector stage (k cosines, sort, quantize) is a
    * ZERO-SHUFFLE codegen projection at scan speed; the only exchange
    * is the k-row cid aggregate. No per-vector explode, no k-way join.
    *
    * Returns (cid, n, mean_cos, mean_margin, min_margin); clusters
    * that hold no vectors emit no row. Requires ≥ 2 centroids. */
  def clusterQuality(df: DataFrame, id: Column, vec: Column,
                     centroids: Seq[(Long, Array[Float])]): DataFrame = {
    require(centroids.size >= 2, "margin needs >= 2 centroids")
    val centArr = array(centroids.sortBy(_._1).map { case (cid, cv) =>
      struct(lit(cid).as("cid"), typedLit(cv).as("cv"))
    }: _*)
    df.select(id.as("vec_id"), vec.as("v"))
      .select(col("vec_id"),
        // (ccos desc, cid asc) via struct sort on (ccos, -cid) desc —
        // the max_by(struct(ccos, -cid)) rule of every assigner here
        sort_array(transform(centArr, c =>
          struct(CosineSimilarity(col("v"), c.getField("cv")).as("ccos"),
            (-c.getField("cid")).as("ncid"))), asc = false).as("arr"))
      .select(
        (-col("arr")(0).getField("ncid")).as("cid"),
        expr("CAST(floor(arr[0].ccos * 1.0E9) AS BIGINT)").as("mq"),
        expr("CAST(floor((arr[0].ccos - arr[1].ccos) * 1.0E9) AS BIGINT)").as("gq"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), sum(col("mq")).as("smq"),
        sum(col("gq")).as("sgq"), min(col("gq")).as("mingq"))
      .select(col("cid"), col("n"),
        expr(meanQSql("smq", "n")).as("mean_cos"),
        expr(meanQSql("sgq", "n")).as("mean_margin"),
        (col("mingq").cast("double") / lit(1.0e9)).as("min_margin"))
  }

  /** Per-dimension health profile of an embedding column — the
    * feature-store check run before trusting a vector corpus: a
    * collapsed dimension (variance ≈ 0) contributes nothing to any
    * distance and usually marks an encoder bug or a truncated export;
    * a runaway min/max marks unnormalized or corrupted rows.
    *
    * Exactness (the q_corr power-sum discipline): each float is
    * quantized to floor(v·10⁶ + 0.5) LONG once, the variance power sum
    * accumulates in DECIMAL(38,0) (order-independent, overflow-safe),
    * and every emitted double is ONE final expression mirrored
    * token-for-token in the oracle. `collapsed` compares the identical
    * variance expression on both engines, so the boolean can't diverge
    * on an ulp.
    *
    * Shape: posexplode fans each row into `dim` (pos, value) pairs,
    * then ONE map-side-combined hash aggregate on ≤`dim` keys — the
    * shuffle carries dim·partitions partial rows, not the corpus. At
    * 100 TB this is scan-bound, like any columnar profile. */
  def dimStats(df: DataFrame, vec: Column, eps: Double = 1e-6): DataFrame = {
    val q = df.select(posexplode(vec).as(Seq("dim", "v")))
      .select(col("dim").cast("long").as("dim"),
        floor(col("v").cast("double") * lit(1000000.0) + lit(0.5))
          .cast("long").as("q"))
    val varExpr = (col("sqq").cast("double") -
      col("sq").cast("double") * col("sq").cast("double") /
        col("n").cast("double")) / col("n").cast("double") / lit(1.0e12)
    q.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"),
        sum((col("q") * col("q")).cast("decimal(38,0)")).as("sqq"),
        min(col("q")).as("mnq"), max(col("q")).as("mxq"))
      .select(col("dim"), col("n"),
        (col("sq").cast("double") / col("n").cast("double") / lit(1000000.0))
          .as("mean_v"),
        varExpr.as("var_v"),
        (col("mnq").cast("double") / lit(1000000.0)).as("min_v"),
        (col("mxq").cast("double") / lit(1000000.0)).as("max_v"),
        (varExpr < lit(eps)).as("collapsed"))
  }

  /** k-occurrence hubness audit (Radovanović et al., JMLR'10): for each
    * vector, how many OTHER vectors' exact top-k neighbor lists it
    * appears in. High-dimensional corpora concentrate: a few "hub"
    * vectors show up in a large fraction of neighbor lists (distorting
    * kNN-graph dedup and RAG retrieval) while "antihubs" (n_hits = 0)
    * are never retrieved at all. The skew of this distribution is the
    * standard embedding-space pathology check before shipping an ANN
    * index.
    *
    * Exact by construction — brute-force top-k per query with the
    * (cos DESC, vec_id) tie rule every retriever in this file uses;
    * hubs flagged at the conventional n_hits ≥ 2k threshold, antihubs
    * at 0 (dense: vectors in nobody's list still emit a row).
    *
    * `queryMod` > 1 runs the audit against a deterministic 1-in-mod
    * QUERY PANEL (vec_id % mod == 0) — the standard way to estimate
    * k-occurrence rates without the full quadratic pass: counts are
    * exact w.r.t. the panel and ~1/mod of the full-audit counts, so
    * `hubAt` (default 2k, the full-audit convention) should scale to
    * 2k/mod. The distribution's SHAPE — the skew that diagnoses the
    * pathology — is what the audit reads, and a fixed panel preserves
    * it.
    *
    * Shape: the corpus crossJoins a BROADCAST query panel (this is
    * the brute-force audit — run it on the ≤10⁶-row probe sample, not
    * the lake; the scale path reuses the IVF/LSH retrievers and
    * accepts approximate counts), one window per query, one ≤n-key
    * hash agg. */
  /** Corpus norm profile — the one-row embedding-health line an ingest
    * dashboard alerts on beside [[graft.entry.QaQueries]]'s quarantine
    * count: how many vectors arrived, how many are (quantized-)zero
    * norm (dead encoder / all-zero rows — cosine silently maps them to
    * 0 against everything), and the exact quartiles + max of the L2
    * norm (a drifting norm scale breaks dot-product retrieval and SQ8
    * calibration before anything else notices).
    *
    * Exactness: norm = sqrt(Σx²) with the Σ in DOUBLE index order
    * (native [[graft.functions.SumSquares]]; DuckDB replays
    * list_sum(list_transform(...))) — sqrt is correctly-rounded IEEE
    * on both engines, then floor(·scale) quantizes to LONG. Quartiles
    * are exact rank selection over the quantized-norm count table
    * (cum ≥ ⌈qN⌉ as the pure integer compare q·cum ≥ k·N — the
    * conformal/PSI boundary discipline).
    *
    * Shape: one scan + one map-combined ≤|norm-domain|-key agg; the
    * cumulate window runs over the quantized domain (≤ maxNorm·scale
    * rows — BOUNDED, unlike a raw-double domain, which is why the
    * default scale is 10³ not 10⁹). Scan-bound at any corpus size. */
  def normProfile(df: DataFrame, vec: Column,
                  scale: Double = 1.0e3): DataFrame = {
    val nq = floor(sqrt(graft.functions.SumSquares(vec)) * lit(scale))
      .cast("long")
    val cc = df.filter(vec.isNotNull).select(nq.as("nq"))
      .groupBy(col("nq")).agg(count(lit(1)).as("c"))
    val wq = Window.orderBy(col("nq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    def pct(num: Long, den: Long): Column =
      min(when(col("cum") * lit(den) >= col("n") * lit(num), col("nq")))
        .cast("double") / lit(scale)
    cc.select(col("nq"), col("c"), sum(col("c")).over(wq).as("cum"),
        sum(col("c")).over(wAll).as("n"))
      .agg(coalesce(max(col("n")), lit(0L)).as("n_vecs"),
        coalesce(sum(when(col("nq") === 0L, col("c"))), lit(0L))
          .as("n_zero"),
        pct(1L, 4L).as("p25_norm"), pct(1L, 2L).as("p50_norm"),
        pct(3L, 4L).as("p75_norm"),
        (max(col("nq")).cast("double") / lit(scale)).as("max_norm"))
  }

  /** Per-dimension (mean, sd) calibration for [[embedOutliers]] — the
    * [[dimStats]] aggregate collapsed to a dim-row driver artifact
    * (centroid discipline: bounded by dimensionality, never corpus
    * size). mean/sd are exact functions of the integer power sums, so
    * the artifact is bit-identical wherever it's built. */
  def embedOutlierStats(df: DataFrame, vec: Column): Seq[(Int, Double, Double)] =
    dimStats(df, vec)
      .select(col("dim"), col("mean_v"), col("var_v"))
      .collect()
      .map(r => (r.getAs[Number](0).intValue, r.getDouble(1),
        math.sqrt(math.max(r.getDouble(2), 0.0))))
      .sortBy(_._1).toSeq

  /** Diagonal-covariance Mahalanobis outlier score per vector: score =
    * Σ_d ((x_d − μ_d)/σ_d)² over the dimensions with σ_d > 0 — the
    * embedding-corpus anomaly gate (dead encoders, wrong-model rows,
    * corrupted floats) that closes the QA loop [[dimStats]] opens at
    * the per-dimension level.
    *
    * μ/σ enter as dim-length LITERAL arrays (broadcast state, the
    * bloom/DSIR discipline), so the score is a ZERO-shuffle codegen
    * projection over the scan. Per-dimension z² terms are fixed-point
    * quantized (floor(z²·10⁶) AS BIGINT) before the cross-dimension
    * sum — integer math, order-independent, bit-equal to the oracle's
    * ungrouped aggregate. x quantizes to the same 10⁻⁶ grid
    * [[dimStats]] calibrated on, so a vector exactly AT the mean
    * scores exactly 0. Collapsed dimensions (σ = 0) contribute 0
    * rather than NaN. `outlier` flags score > threshold · n_live_dims
    * (mean z² of `threshold` ≈ a threshold·σ band per dimension). */
  def embedOutliers(df: DataFrame, id: Column, vec: Column,
                    stats: Seq[(Int, Double, Double)],
                    threshold: Double = 4.0): DataFrame = {
    val mu = lit(stats.map(_._2).toArray)
    val sd = lit(stats.map(_._3).toArray)
    val nLive = stats.count(_._3 > 0.0).toLong
    val score = aggregate(
      sequence(lit(0), least(size(vec), lit(stats.size)) - 1),
      lit(0L),
      (acc, i) => {
        val x = floor(element_at(vec, i + 1).cast("double") * lit(1000000.0) +
          lit(0.5)).cast("double") / lit(1000000.0)
        val m = element_at(mu, i + 1)
        val s = element_at(sd, i + 1)
        val z = (x - m) / s
        acc + when(s > 0.0, floor(z * z * lit(1000000.0)).cast("long"))
          .otherwise(lit(0L))
      })
    df.select(id.as("vec_id"),
        (score.cast("double") / lit(1000000.0)).as("score"))
      .select(col("vec_id"), col("score"), lit(nLive).as("n_live_dims"),
        (col("score") > lit(threshold) * lit(nLive.toDouble)).as("outlier"))
  }

  /** Deterministic ±1 Johnson–Lindenstrauss sign for output dim `k`,
    * input dim `j` — parity of the first-4-byte u32 of md5("rp{k}|{j}"),
    * the [[planeComponents]] derivation family. Computed at
    * plan-authoring time and embedded as literals; the SQL oracle
    * derives the identical constants with the identical formula. */
  def jlSigns(k: Int, dim: Int = PlaneDim): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until dim).map { j =>
      md.reset()
      val d = md.digest(s"rp$k|$j".getBytes("UTF-8"))
      val v = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      if (v % 2 == 0) 1.0 else -1.0
    }.toArray
  }

  /** JL random projection to `k` dims: y_k = Σ_j s_kj·x_j with
    * deterministic ±1 signs (Achlioptas 2001 — the database-friendly
    * JL family; sparse/±1 entries preserve pairwise distances like
    * Gaussians do). Inputs quantize to the 10⁻⁶ grid first, so each
    * output component is an EXACT integer sum (|x_q| ≤ 10⁶·max|x|,
    * dims ≤ 64 — no overflow), bit-equal across engines and reshard-
    * stable. Returns array<long> at 10⁻⁶ scale. */
  def jlProject(vec: Column, k: Int): Column = {
    // the k index inside transform is a Column, not a Scala value, so
    // the signs for ALL k stack into one 2-D literal indexed [k][j]
    val signs = typedLit((0 until k).map(i => jlSigns(i).toSeq))
    transform(sequence(lit(0), lit(k - 1)), kk =>
      aggregate(
        sequence(lit(0), size(vec) - 1),
        lit(0L),
        (acc, j) => {
          val xq = floor(element_at(vec, j + 1).cast("double") *
            lit(1000000.0) + lit(0.5)).cast("long")
          acc + xq * element_at(element_at(signs, kk + 1), j + 1).cast("long")
        }))
  }

  /** Distance-preservation audit of [[jlProject]]: for a deterministic
    * panel of adjacent-id pairs, the squared L2 distance before and
    * after projection and the JL ratio (proj/k) / (orig/d). Exact
    * integer squared distances at the 10⁻¹² scale; one small
    * self-join on the panel — the corpus is touched once for the
    * projection, the audit never goes quadratic. */
  def jlPairCheck(df: DataFrame, id: Column, vec: Column, k: Int,
                  panelMod: Long = 23L): DataFrame = {
    val v = df.select(id.as("vec_id"), vec.as("v"),
      jlProject(vec, k).as("y"))
    val a = v.filter(col("vec_id") % lit(panelMod) === 0L)
      .select(col("vec_id").as("id_a"), col("v").as("va"), col("y").as("ya"))
    val b = v.select((col("vec_id") - 1L).as("id_a"),
      col("vec_id").as("id_b"), col("v").as("vb"), col("y").as("yb"))
    val origD2 = aggregate(
      sequence(lit(0), least(size(col("va")), size(col("vb"))) - 1),
      lit(0L),
      (acc, j) => {
        val xa = floor(element_at(col("va"), j + 1).cast("double") *
          lit(1000000.0) + lit(0.5)).cast("long")
        val xb = floor(element_at(col("vb"), j + 1).cast("double") *
          lit(1000000.0) + lit(0.5)).cast("long")
        acc + (xa - xb) * (xa - xb)
      })
    val projD2 = aggregate(
      sequence(lit(0), lit(k - 1)),
      lit(0L),
      (acc, j) => {
        val d = element_at(col("ya"), j + 1) - element_at(col("yb"), j + 1)
        acc + d * d
      })
    a.join(b, Seq("id_a"))
      .select(col("id_a"), col("id_b"), origD2.as("o2"), projD2.as("p2"),
        size(col("va")).cast("long").as("dim"))
      .select(col("id_a"), col("id_b"),
        (col("o2").cast("double") / lit(1.0e12)).as("orig_d2"),
        (col("p2").cast("double") / lit(1.0e12)).as("proj_d2"),
        when(col("o2") === 0L, lit(null).cast("double"))
          .otherwise((col("p2").cast("double") * col("dim").cast("double")) /
            (col("o2").cast("double") * lit(k.toDouble))).as("jl_ratio"))
  }

  /** Top principal direction of the (uncentered) embedding
    * second-moment matrix by POWER ITERATION — v ← normalize(Xᵀ(Xv))
    * for a fixed number of rounds — plus the eigenvalue estimate
    * λ = mean((x·v)²) and the explained-variance fraction λ/mean‖x‖².
    * The spectral-health probe of an embedding corpus (one direction
    * hoarding most of the mass = anisotropic/collapsed embeddings —
    * Mu & Viswanath ICLR'18's dominant-direction pathology) and the
    * first step of any whitening/low-rank pass.
    *
    * Distributed shape (r16): TWO corpus jobs total, independent of
    * T. Job 1 computes the dim×dim quantized Gram matrix in one
    * map-combined pass ([[graft.functions.GramMatrixQ]]); all T power
    * rounds then run driver-side on the O(dim²) matrix — w = G·vq
    * equals the former per-round corpus scan Σ_rows xq[d]·(xq·vq)
    * EXACTLY (associativity of exact LONG math), so the round chain
    * and the unrolled oracle are unchanged bit-for-bit. Job 2 is the
    * final λ/explained scan against the converged literal (its
    * per-row floor(sq²/10¹²) quantization cannot ride the Gram form —
    * sq² would overflow LONG without the per-row rescale). Driver
    * state is O(dim²) ≤ 32 KiB, never O(corpus).
    *
    * Exactness: inputs quantize to the 10⁻³ grid and v to 10⁻⁶, so
    * every dot and accumulation is EXACT integer math (bounds: |xq| ≤
    * 10³, dim ≤ 64 ⇒ |sq| ≤ 6.4·10¹⁰; |w| ≤ n·10³·|sq| — long-exact
    * to n ≈ 10⁵ rows, the probe-sample regime; the lake path swaps
    * the w accumulator to DECIMAL(38,0)). Between rounds the only
    * double math is norm + rescale — identical literal expression
    * text on both engines, re-quantized to integers immediately
    * (the kmeans fixed-point recentering discipline).
    *
    * Returns dim rows: (dim, v, lambda, explained). */
  def pcaPower(df: DataFrame, vec: Column, dim: Int,
               iters: Int = 3): DataFrame = {
    val spark = df.sparkSession
    def xq(x: Column): Column =
      floor(x.cast("double") * lit(1000.0) + lit(0.5)).cast("long")
    def dotQ(v: Column, vq: Seq[Long]): Column =
      aggregate(sequence(lit(0), least(size(v), lit(dim)) - 1), lit(0L),
        (acc, d) => acc + xq(element_at(v, d + 1)) *
          element_at(lit(vq.toArray), d + 1))
    // Two corpus passes remain (Gram scan + final λ scan). A/B'd r16:
    // persisting the projection is time-parity with re-reading the
    // columnar scan (~0.65 s either way at sf0.1), so read twice —
    // no cache memory held, and at lake scale pinning a corpus-sized
    // projection for one extra pass would be wrong regardless
    val base = df.select(vec.as("v"))
    // ONE corpus scan: the dim×dim Gram matrix G = Σ xq·xqᵀ (exact
    // LONG sums, map-combined TypedImperativeAggregate). Every power
    // round then runs DRIVER-side on the 32 KiB matrix: w = G·vq is
    // integer-identical to the per-round corpus scan Σ_rows xq[d]·
    // (xq·vq) by exact associativity, so the unrolled DuckDB oracle
    // below matches bit-for-bit with zero extra corpus passes
    // (r15 VERDICT item 4: T+1 jobs → 2).
    // n rides the same job; st (Σ_rows Σ_d xq[d]²) is the TRACE of G —
    // free, so the final scan only computes sl (whose per-row
    // floor(sq²/10¹²) needs the converged vq and must stay a scan)
    val gRow = base.agg(graft.functions.GramMatrixQ(col("v"), dim).as("g"),
      count(lit(1)).as("n")).collect()(0)
    val g = gRow.getAs[scala.collection.Seq[Long]](0)
    val nRows = gRow.getLong(1)
    val st = (0 until dim).map(d => g(d * dim + d)).sum
    // v₀ = the uniform direction, quantized — any vector not
    // orthogonal to the principal direction converges
    var vq: Seq[Long] = Seq.fill(dim)(
      math.floor(1.0e6 / math.sqrt(dim.toDouble)).toLong)
    for (_ <- 1 to iters) {
      val wd = (0 until dim).map { d =>
        var w = 0L; var e = 0
        while (e < dim) { w += g(d * dim + e) * vq(e); e += 1 }
        w.toDouble
      }
      val nq = wd.map(v => math.floor(v * v / 1.0e20).toLong).sum
      val norm = math.sqrt(nq.toDouble * 1.0e20)
      vq = wd.map(v =>
        if (norm == 0.0) 0L else math.floor(v / norm * 1.0e6 + 0.5).toLong)
    }
    val agg1 = base
      .select(dotQ(col("v"), vq).as("sq"))
      .agg(sum(floor(col("sq").cast("double") * col("sq").cast("double") /
        lit(1.0e12)).cast("long")).as("sl"))
    spark.range(0, dim).toDF("dim")
      .crossJoin(broadcast(agg1))
      .select(col("dim"),
        (element_at(lit(vq.toArray), col("dim").cast("int") + 1)
          .cast("double") / lit(1.0e6)).as("v"),
        (col("sl").cast("double") / lit(1.0e6) / lit(nRows.toDouble))
          .as("lambda"),
        when(lit(st) === 0L, lit(null).cast("double"))
          .otherwise(col("sl").cast("double") / lit(st.toDouble))
          .as("explained"))
  }

  /** The [[pcaPower]] DuckDB twin — T unrolled iteration CTEs over the
    * identical integer/fixed-point pipeline (the sqlKmeansCte
    * pattern: the oracle replays the training loop, so a drifted
    * driver round fails the hash compare, not just a spec). The
    * engine's r16 Gram-matrix fold changes the JOB COUNT, not one
    * integer: w = G·v ≡ Σ_rows xq·(xq·v) exactly, so this unrolled
    * per-round form remains the honest (and cheaper-for-DuckDB)
    * expression of the same chain. */
  def pcaPowerOracleSql(dim: Int, iters: Int): String = {
    val v0 = math.floor(1.0e6 / math.sqrt(dim.toDouble)).toLong
    val steps = (1 to iters).map { t =>
      s"""s$t AS (SELECT x.vec_id, x.xq,
         |  CAST(coalesce(list_sum(list_transform(range(0, least(len(x.xq), $dim)),
         |    i -> x.xq[i+1] * v${t - 1}.vq[i+1])), 0) AS BIGINT) AS sq
         |  FROM x CROSS JOIN v${t - 1}),
         |w$t AS (SELECT i.d AS d,
         |  CAST(coalesce(sum(s.xq[i.d+1] * s.sq), 0) AS BIGINT) AS w
         |  FROM s$t s CROSS JOIN (SELECT unnest(range(0, $dim)) AS d) i
         |  GROUP BY 1),
         |n$t AS (SELECT sqrt(CAST(CAST(sum(CAST(floor(
         |    CAST(w AS DOUBLE) * CAST(w AS DOUBLE) / 1.0E20) AS BIGINT))
         |    AS BIGINT) AS DOUBLE) * 1.0E20) AS norm FROM w$t),
         |v$t AS (SELECT list(CASE WHEN n.norm = 0 THEN CAST(0 AS BIGINT)
         |    ELSE CAST(floor(CAST(w.w AS DOUBLE) / n.norm * 1.0E6 + 0.5)
         |      AS BIGINT) END ORDER BY w.d) AS vq
         |  FROM w$t w CROSS JOIN n$t n)""".stripMargin
    }.mkString(",\n")
    s"""WITH x AS (SELECT vec_id, list_transform(embedding,
       |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))
       |    AS xq FROM embeddings),
       |v0 AS (SELECT list_transform(range(0, $dim),
       |    i -> CAST($v0 AS BIGINT)) AS vq),
       |$steps,
       |f AS (SELECT
       |  CAST(coalesce(list_sum(list_transform(range(0, least(len(x.xq), $dim)),
       |    i -> x.xq[i+1] * v.vq[i+1])), 0) AS BIGINT) AS sq,
       |  CAST(coalesce(list_sum(list_transform(range(0,
       |    least(len(x.xq), $dim)), i -> x.xq[i+1] * x.xq[i+1])), 0)
       |    AS BIGINT) AS tq
       |  FROM x CROSS JOIN v$iters v),
       |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CAST(floor(CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)
       |    / 1.0E12) AS BIGINT)) AS BIGINT) AS sl,
       |  CAST(sum(tq) AS BIGINT) AS st FROM f)
       |SELECT d.d AS dim, CAST(v.vq[d.d+1] AS DOUBLE) / 1.0E6 AS v,
       |  CAST(sl AS DOUBLE) / 1.0E6 / CAST(n AS DOUBLE) AS lambda,
       |  CASE WHEN st = 0 THEN NULL
       |    ELSE CAST(sl AS DOUBLE) / CAST(st AS DOUBLE) END AS explained
       |FROM (SELECT unnest(range(0, $dim)) AS d) d
       |CROSS JOIN v$iters v CROSS JOIN a""".stripMargin
  }

  /** 1/log2(r+1) discount literals for ranks 1..k — computed once at
    * plan-authoring time (the Benford shared-literal discipline: both
    * engines embed the identical shortest-round-trip doubles, so no
    * libm log call runs on either side). */
  def ndcgDiscounts(k: Int): Array[Double] =
    (1 to k).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0))).toArray

  /** Default input-leaf bound of [[rankingMetrics]]' single-task
    * regime (2 MiB), at most the largest input at which the one task
    * was timed against the cluster branch. On `tools/gen_sf1.py`
    * replicas of sf0.1 (64-dim, 1-in-20 panel, k = 10), `local[4]`,
    * 4 shuffle partitions, one task / cluster: 1.2 / 5.9 s at 1.05 MB
    * of embeddings and 1.8 / 17.1 s at 2.10 MB, with the same rows.
    * The work is quadratic in the rows, so at one byte size it grows
    * as dim shrinks or the panel rate rises. */
  val SmallRankMaxBytes: Long = 2L << 20

  /** Ranking-quality evaluation of the SQ8 quantized retriever against
    * exact-cosine relevance: NDCG@k, MRR and hits@k per panel query —
    * the eval harness that closes the ANN family's loop ("recall says
    * WHAT came back; NDCG says whether it came back in the right
    * ORDER"). Relevance is graded from the exact ranking (rel =
    * k+1−exact_rank for the exact top-k, 0 below), so IDCG is the
    * data's own ideal ordering and a calibration bug that scrambles
    * the quantized ORDER — not just the candidate set — now fails the
    * gate.
    *
    * Exactness: both rankings tie-break on vec_id; DCG/IDCG terms are
    * rel·disc[rank] with disc a shared literal array, fixed-point
    * quantized (floor(·10⁹)) before the per-query sum; NDCG divides
    * the two integer sums once. MRR = 1/first-relevant-system-rank
    * (over the full ranking, so it always exists).
    *
    * Shape: a small input with an integral id (the [[SmallGraph]]
    * regime test against `smallInputThreshold`, default
    * [[SmallRankMaxBytes]]; 0 forces the cluster branch) scores every
    * (query, candidate) pair in ONE task: one job, no exchange (see
    * [[smallRanking]]). Above the bound the
    * corpus spreads to the cores and crossJoins a BROADCAST
    * 1-in-`queryMod` panel (the hubness audit shape — run it on the
    * probe sample at lake scale), two window sorts on the same query
    * partitioning, one ≤panel-key agg.
    *
    * NULLs: a NULL id is never a query nor a candidate; a NULL vector
    * scores NULL `cos` (ranked last) and, as a query, NULL `sqq`. Ids
    * are expected unique. With a duplicated non-null id neither copy
    * is the other's candidate, and a duplicated query id emits one row
    * in both branches, its copies' candidates ranked together. Entries
    * tied on both score and vec_id (possible only with duplicated ids)
    * have no defined order: the cluster branch's window may order them
    * either way, the one task keeps input order. */
  def rankingMetrics(df: DataFrame, id: Column, vec: Column,
                     stats: Seq[(Int, Double, Double)], k: Int,
                     queryMod: Long,
                     smallInputThreshold: Long = SmallRankMaxBytes): DataFrame = {
    val mn = lit(stats.map(_._2).toArray)
    val mx = lit(stats.map(_._3).toArray)
    val disc = lit(ndcgDiscounts(k))
    // quantize+reconstruct ONCE per candidate (code and bin center
    // depend only on the stored vector): per-pair work then collapses
    // to a floor-quantized dot — hoisting this out of the pair loop
    // cut the sf0.1 panel audit from 22 s to the cosine's cost class
    val recon = transform(
      sequence(lit(0), least(size(col("v")), lit(stats.size)) - 1),
      d => {
        val x = element_at(col("v"), d + 1).cast("double")
        val mnd = element_at(mn, d + 1)
        val mxd = element_at(mx, d + 1)
        val c = when(mxd === mnd, lit(0L))
          .otherwise(least(lit(255L), greatest(lit(0L),
            floor((x - mnd) / (mxd - mnd) * lit(256.0)).cast("long"))))
        mnd + (c.cast("double") + lit(0.5)) * (mxd - mnd) / lit(256.0)
      })
    val ids = df.select(id)
    if (SmallGraph.isSmall(df, smallInputThreshold) && SmallGraph.integral(ids))
      return smallRanking(df.select(id.cast("long").as("vec_id"), vec.as("v"))
          .filter(col("vec_id").isNotNull).withColumn("recon", recon),
          k, queryMod)
        .withColumn("query_id", col("query_id").cast(ids.schema.head.dataType))
    // spread: embeddings scan as one split, and the per-pair double
    // scoring would otherwise run single-task (no-op at lake scale)
    val v = graft.core.Xform.spreadToCores(df).select(id.as("vec_id"), vec.as("v"))
      .withColumn("recon", recon)
    val sqq = aggregate(
      sequence(lit(0), size(col("recon")) - 1),
      lit(0L),
      (acc, d) => acc +
        floor(element_at(col("qv"), d + 1).cast("double") *
          element_at(col("recon"), d + 1) * lit(1e9)).cast("long"))
    val wExact = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val wSys = Window.partitionBy(col("query_id"))
      .orderBy(col("sqq").desc, col("vec_id"))
    val pairs = v.crossJoin(broadcast(
        v.filter(col("vec_id") % lit(queryMod) === 0L)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        CosineSimilarity(col("v"), col("qv")).as("cos"), sqq.as("sqq"))
      .withColumn("exact_rank", row_number().over(wExact).cast("long"))
      .withColumn("sys_rank", row_number().over(wSys).cast("long"))
      .withColumn("rel",
        when(col("exact_rank") <= k, lit(k + 1L) - col("exact_rank"))
          .otherwise(lit(0L)))
    def dcgTerm(rank: Column): Column =
      floor(col("rel").cast("double") * element_at(disc, rank.cast("int")) *
        lit(1.0e9)).cast("long")
    pairs.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_cands"),
        sum(when(col("exact_rank") <= k, dcgTerm(col("exact_rank")))
          .otherwise(lit(0L))).as("idcg_q"),
        sum(when(col("sys_rank") <= k, dcgTerm(col("sys_rank")))
          .otherwise(lit(0L))).as("dcg_q"),
        min(when(col("rel") > 0L, col("sys_rank"))).as("first_rel"),
        sum(when(col("sys_rank") <= k && col("rel") > 0L, lit(1L))
          .otherwise(lit(0L))).as("hits"))
      .select(col("query_id"), col("n_cands"),
        (col("dcg_q").cast("double") / lit(1.0e9)).as("dcg"),
        (col("idcg_q").cast("double") / lit(1.0e9)).as("idcg"),
        when(col("idcg_q") === 0L, lit(null).cast("double"))
          .otherwise(col("dcg_q").cast("double") /
            col("idcg_q").cast("double")).as("ndcg"),
        (lit(1.0) / col("first_rel").cast("double")).as("mrr"),
        col("hits").as("hits_at_k"))
  }

  /** One row of [[rankingMetrics]]' output. */
  final case class RankRow(query_id: Long, n_cands: Long, dcg: Double,
                           idcg: Double, ndcg: Option[Double],
                           mrr: Option[Double], hits_at_k: Long)

  /** The small-input regime of [[rankingMetrics]]: every (query,
    * candidate) pair of the (vec_id, v, recon) rows scored and ranked in
    * ONE task. The rows stream once into primitive arrays. `cos` is the
    * [[CosineSimilarity]] loop and `sqq` the fixed-point ADC sum over
    * the candidate's plan-computed `recon`, term for term as the cluster
    * branch evaluates them (a query NULL element makes `sqq` NULL; a
    * query shorter than a candidate's recon fails as `element_at` does
    * under ANSI). The copies of a duplicated query id rank their
    * candidates together and emit one row, as the cluster branch's
    * windows partitioned by query_id do. Ranks follow Spark's
    * `(score DESC NULLS LAST, vec_id)` order, so only the exact top-k
    * and their system ranks are needed: a bounded insertion keeps the
    * top-k, and one binary search per candidate over those k in system
    * order counts who precedes each. Work is queries × candidates × dim
    * in one task, which [[SmallRankMaxBytes]] bounds. */
  private def smallRanking(rows: DataFrame, k: Int, queryMod: Long): DataFrame = {
    val session = rows.sparkSession
    import session.implicits._
    val ansi = session.sessionState.conf.ansiEnabled
    val disc = ndcgDiscounts(k)
    rows.coalesce(1).mapPartitions { it =>
      // v as primitive floats (a NULL element reads 0, as the unsafe
      // getFloat of CosineSimilarity does) and its first NULL position
      val idB = Array.newBuilder[Long]; val vB = Array.newBuilder[Array[Float]]
      val holeB = Array.newBuilder[Int]; val rcB = Array.newBuilder[Array[Double]]
      it.foreach { r =>
        idB += r.getLong(0)
        var hole = Int.MaxValue
        vB += (if (r.isNullAt(1)) null else {
          val s = r.getSeq[Any](1)
          val a = new Array[Float](s.length)
          var d = 0
          s.foreach { x =>
            if (x == null) hole = math.min(hole, d) else a(d) = x.asInstanceOf[Float]
            d += 1
          }
          a
        })
        holeB += hole
        rcB += (if (r.isNullAt(2)) null else r.getSeq[Double](2).toArray)
      }
      val ids = idB.result(); val vs = vB.result()
      val hole = holeB.result(); val recons = rcB.result()
      val n = ids.length
      // query rows grouped by id; entry e scores copy e / n of the
      // query against candidate e % n
      val qrows = Array.range(0, n).filter(ids(_) % queryMod == 0L).sortBy(ids(_))
      val runs = scala.collection.mutable.ArrayBuffer.empty[Int]
      var i = 0
      while (i <= qrows.length) {
        if (i == 0 || i == qrows.length || ids(qrows(i)) != ids(qrows(i - 1))) runs += i
        i += 1
      }
      val maxCopies = if (qrows.isEmpty) 0
        else runs.iterator.zip(runs.iterator.drop(1)).map { case (a, b) => b - a }.max
      val cos = new Array[Double](n * maxCopies); val cosOk = new Array[Boolean](n * maxCopies)
      val sqq = new Array[Long](n * maxCopies); val sqqOk = new Array[Boolean](n * maxCopies)
      // (score DESC NULLS LAST, vec_id): Spark's double order equates
      // -0.0 with 0.0 and ranks NaN above every number
      def exactBefore(a: Int, b: Int): Boolean =
        if (cosOk(a) != cosOk(b)) cosOk(a)
        else {
          val c = if (!cosOk(a) || cos(a) == cos(b)) 0
                  else java.lang.Double.compare(cos(a), cos(b))
          c > 0 || (c == 0 && ids(a % n) < ids(b % n))
        }
      def sysBefore(a: Int, b: Int): Boolean =
        if (sqqOk(a) != sqqOk(b)) sqqOk(a)
        else if (sqqOk(a) && sqq(a) != sqq(b)) sqq(a) > sqq(b)
        else ids(a % n) < ids(b % n)
      val out = scala.collection.mutable.ArrayBuffer.empty[RankRow]
      var g = 0
      while (g + 1 < runs.length) {
        val qid = ids(qrows(runs(g)))
        val ne = (runs(g + 1) - runs(g)) * n
        var nc = 0
        var e = 0
        while (e < ne) {
          val q = qrows(runs(g) + e / n); val c = e % n
          if (ids(c) != qid) {
            nc += 1
            val qv = vs(q); val v = vs(c)
            cosOk(e) = v != null && qv != null
            if (cosOk(e)) {
              val len = math.min(v.length, qv.length)
              var dot = 0.0; var na = 0.0; var nb = 0.0; var d = 0
              while (d < len) {
                val x = v(d).toDouble; val y = qv(d).toDouble
                dot += x * y; na += x * x; nb += y * y; d += 1
              }
              val denom = math.sqrt(na) * math.sqrt(nb)
              cos(e) = if (denom == 0.0) 0.0 else dot / denom
            }
            val rc = recons(c)
            if (qv != null && rc != null && qv.length < rc.length && ansi)
              throw new ArrayIndexOutOfBoundsException(
                s"element_at: query $qid has ${qv.length} elements, " +
                  s"candidate ${ids(c)}'s recon ${rc.length}")
            sqqOk(e) = qv != null && rc != null && hole(q) >= rc.length &&
              qv.length >= rc.length
            if (sqqOk(e)) {
              var acc = 0L; var d = 0
              while (d < rc.length) {
                acc += math.floor(qv(d).toDouble * rc(d) * 1e9).toLong; d += 1
              }
              sqq(e) = acc
            }
          }
          e += 1
        }
        if (nc > 0) {
          // exact top-k by bounded insertion, best first
          val kk = math.max(0, math.min(k, nc))
          val top = new Array[Int](kk)
          var t = 0
          e = 0
          while (e < ne) {
            if (ids(e % n) != qid && (t < kk || kk > 0 && exactBefore(e, top(kk - 1)))) {
              var p = math.min(t, kk - 1)
              while (p > 0 && exactBefore(e, top(p - 1))) { top(p) = top(p - 1); p -= 1 }
              top(p) = e
              if (t < kk) t += 1
            }
            e += 1
          }
          // exact ranks of the top-k in system order; an entry precedes
          // a suffix of that order
          val bySys = Array.range(0, kk).sortWith((x, y) => sysBefore(top(x), top(y)))
          val from = new Array[Int](kk + 1)
          e = 0
          while (e < ne) {
            if (ids(e % n) != qid) {
              var lo = 0; var hi = kk
              while (lo < hi) {
                val mid = (lo + hi) >>> 1
                if (sysBefore(e, top(bySys(mid)))) hi = mid else lo = mid + 1
              }
              from(lo) += 1
            }
            e += 1
          }
          var idcg = 0L; var dcg = 0L; var hits = 0L; var firstRel = Long.MaxValue
          var r = 0
          while (r < kk) {
            idcg += math.floor((k - r).toDouble * disc(r) * 1.0e9).toLong
            r += 1
          }
          var before = 0L
          var j = 0
          while (j < kk) {
            before += from(j)
            val sysRank = before + 1
            val rel = k - bySys(j)
            if (sysRank <= k) {
              dcg += math.floor(rel.toDouble * disc(sysRank.toInt - 1) * 1.0e9).toLong
              hits += 1
            }
            firstRel = math.min(firstRel, sysRank)
            j += 1
          }
          out += RankRow(qid, nc, dcg / 1.0e9, idcg / 1.0e9,
            if (idcg == 0L) None else Some(dcg.toDouble / idcg.toDouble),
            if (kk == 0) None else Some(1.0 / firstRel.toDouble), hits)
        }
        g += 1
      }
      out.iterator
    }.toDF()
  }

  /** Local Outlier Factor (Breunig et al. SIGMOD'00) over a
    * deterministic embedding panel — the DENSITY-relative outlier
    * audit: a point is anomalous not because it is far from the
    * centroid (that's the Mahalanobis screen) but because its local
    * density is far below its neighbors' — the lens that catches
    * outliers hiding near a dense cluster's edge and clears points in
    * legitimately sparse regions.
    *
    * Scope: `panel` is an arbitrary membership predicate and
    * neighborhoods are computed WITHIN the panel — the quadratic is
    * panel². The predicate MUST pin the panel SIZE, not a rate: a
    * residue alone (`id % m == 0`) grows the panel with the corpus
    * and the audit cost quadratically (15.9 s at sf1 vs 1.5 s at
    * sf0.1, measured, r14 VERDICT item 2) — combine residue AND an id
    * ceiling (the [[contrastiveMine]] anchor contract) so the audit
    * is a fixed cost at any corpus size.
    *
    * Exactness: distances are 1 − cos (the shared CosineSimilarity /
    * sqlCos text); kNN ranks order by (dist, id). The two double SUMS
    * LOF needs (Σ reach-dist for lrd, Σ lrd for the ratio) are
    * quantized floor(·10⁹) LONG before summation (the PSI fixed-point
    * discipline) so both are accumulation-order-exact; lrd and lof
    * are each ONE final double expression mirrored in the oracle.
    * A point whose k neighborhood is all exact duplicates (reach sum
    * 0 — infinite density) gets NULL lrd, and NULL propagates through
    * its neighbors' lof via the shared CASE text. */
  def lofOutliers(df: DataFrame, id: Column, vec: Column, k: Int,
                  panel: Column, outlierAt: Double = 1.5): DataFrame = {
    val p = df.filter(panel)
      .select(id.as("vec_id"), vec.as("v"))
    val w = Window.partitionBy(col("a")).orderBy(col("dist"), col("b"))
    // cosine is bit-symmetric (the dot runs in index order and every
    // other op is a commutative double multiply), so build the pair
    // relation from the a < b half plus its mirror; the oracle's full
    // a≠b scan produces the identical doubles
    // deliberately NOT persisted: each union side recomputes its
    // half (cosines total N² again), but the halves PIPELINE straight
    // into the window exchange — measured at 10×-panel scale this
    // beats materializing the O(panel²) pair relation (16.6 s vs
    // 19.1 s persisted vs 26.1 s for the directed a≠b form)
    val half = p.select(col("vec_id").as("a"), col("v").as("va"))
      .crossJoin(broadcast(p.select(col("vec_id").as("b"),
        col("v").as("vb"))))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        (lit(1.0) - CosineSimilarity(col("va"), col("vb"))).as("dist"))
    val knn = half
      .unionByName(half.select(col("b").as("a"), col("a").as("b"),
        col("dist")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("a"), col("b"), col("dist"))
    val tracked = graft.core.Caches.track(knn)
    val kd = tracked.groupBy(col("a")).agg(max(col("dist")).as("kdist"))
    val reach = tracked
      .join(kd.withColumnsRenamed(Map("a" -> "b", "kdist" -> "kdist_b")),
        Seq("b"))
      .select(col("a"), col("b"),
        greatest(col("dist"), col("kdist_b")).as("reach"))
    val lrd = graft.core.Caches.track(reach.groupBy(col("a"))
      .agg(count(lit(1)).as("n_nn"),
        sum(floor(col("reach") * lit(1.0e9)).cast("long")).as("rq"))
      .select(col("a"), col("n_nn"),
        when(col("rq") === 0L, lit(null).cast("double"))
          .otherwise(col("n_nn").cast("double") /
            (col("rq").cast("double") / lit(1.0e9))).as("lrd")))
    val num = tracked
      .join(lrd.select(col("a").as("b"), col("lrd").as("lrd_b")), Seq("b"))
      .groupBy(col("a"))
      .agg(sum(floor(col("lrd_b") * lit(1.0e9)).cast("long")).as("lq"),
        count(lit(1)).as("nn2"))
    val lof = when(col("lrd").isNull || col("lq").isNull,
        lit(null).cast("double"))
      .otherwise((col("lq").cast("double") / lit(1.0e9) /
        col("nn2").cast("double")) / col("lrd"))
    lrd.join(num, Seq("a"))
      .select(col("a").as("vec_id"), col("n_nn"), col("lrd"),
        lof.as("lof"), (lof >= lit(outlierAt)).as("outlier"))
  }

  def hubness(df: DataFrame, id: Column, vec: Column, k: Int,
              queryMod: Long = 1L, hubAt: Long = -1L): DataFrame = {
    val ha = if (hubAt >= 0L) hubAt else 2L * k
    val v = df.select(id.as("vec_id"), vec.as("v"))
    // r17: exact top-k per query via the bounded TopKScoreIds aggregate
    // instead of a row_number window — the window form sorted every map
    // partition's slice of the panel×query pair relation (O(n log n)
    // over a quadratic relation; 244 s at sf1 on 100 M pairs, nearly
    // all in WindowGroupLimit's two sorts), while the aggregate selects
    // the same (cos DESC, vec_id) rank-≤k set in O(n·k) with map-side
    // partial aggregation, so only |queries|·k rows per map partition
    // cross the exchange (guide §2.3). Selection order is Spark's sort
    // order exactly (NaN greatest, ±0.0 equal, id tiebreak) — the
    // membership this query reports is bit-identical.
    val topk = v.crossJoin(broadcast(
        v.filter(col("vec_id") % lit(queryMod) === 0L)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        CosineSimilarity(col("v"), col("qv")).as("cos"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKScoreIds(col("cos"), col("vec_id"), k)
        .as("__ids"))
      .select(col("query_id"), explode(col("__ids")).as("vec_id"))
    v.select(col("vec_id"))
      .join(topk.groupBy(col("vec_id")).agg(count(lit(1)).as("hits")),
        Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("hits"), lit(0L)).as("n_hits"),
        (coalesce(col("hits"), lit(0L)) >= lit(ha)).as("hub"),
        (coalesce(col("hits"), lit(0L)) === lit(0L)).as("antihub"))
  }

  /** Label-separation audit of a labeled embedding corpus: for every
    * label pair, the cosine between their exact fixed-point centroids
    * ([[quantizedCentroids]]), with each label's cohesion (mean member
    * cosine to its own centroid) alongside — "are the classes actually
    * separated in embedding space, and are they tight?": low pair
    * cosine + high cohesion is the healthy reading; a pair cosine
    * approaching either cohesion means the classes blur.
    *
    * Exactness: centroids are the quantizedCentroids doubles (exact
    * integer accumulation ⇒ identical on any partitioning/engine);
    * every cross-dimension sum — centroid dot products, norms, member
    * dots — quantizes floor(·10⁹) LONG before aggregation, and each
    * cosine/mean is one final double expression. Zero-norm guards →
    * NULL.
    *
    * Shape: one posexplode agg for centroids (corpus×dim — the
    * dimStats shape), one member⋈centroid equi-join on (label, pos)
    * for cohesion, and a ≤labels² centroid-pair join — never a
    * member-pair join. */
  def labelSeparation(df: DataFrame, id: Column, label: Column,
                      vec: Column): DataFrame = {
    val spark = df.sparkSession
    val base = df.filter(label.isNotNull && vec.isNotNull)
    def q9(c: Column): Column = floor(c * lit(1.0e9)).cast("long")
    // Job 1 (the ONLY corpus aggregation): centroids, collected as a
    // DRIVER artifact — |labels|·dim rows, centroid discipline. Norms
    // and the ≤labels² centroid-pair cosines are then plain driver
    // arithmetic on the same quantize-then-sum chain the old
    // domain-sized Spark aggregates ran (each term floors to LONG
    // before summing, so driver order ≡ shuffle order, and sqrt/÷ are
    // correctly-rounded IEEE on both sides). r16: this plus the fused
    // member pass below folds 5 jobs / 17 stages → 2 jobs.
    val centsPlan = quantizedCentroids(base, label, vec)
    val centRows = centsPlan.collect()
    val byLabel = centRows.groupBy(_.get(0))
    val labels = byLabel.keys.toSeq.sortBy(_.toString)
    val centArr: Map[Any, Array[Double]] = byLabel.map { case (g, rows) =>
      val dim = rows.map(_.getLong(1)).max.toInt + 1
      val a = new Array[Double](dim)
      rows.foreach(r => a(r.getLong(1).toInt) = r.getDouble(2))
      g -> a
    }
    val nq: Map[Any, Long] = centArr.map { case (g, a) =>
      g -> a.map(c => math.floor(c * c * 1.0e9).toLong).sum
    }
    val nMembers: Map[Any, Long] = byLabel.map { case (g, rows) =>
      g -> rows.map(_.getLong(3)).max
    }
    def cos(dq: Long, na: Long, nb: Long): Any =
      if (na <= 0L || nb <= 0L) null
      else (dq.toDouble / 1.0e9) /
        (math.sqrt(na.toDouble / 1.0e9) * math.sqrt(nb.toDouble / 1.0e9))
    val gType = centsPlan.schema("g").dataType
    // mirrors the old `ga < gb` COLUMN comparison: label keys are
    // numeric or string, where Spark's ordering matches the JVM's
    def anyLt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Long, y: Long)     => x < y
      case (x: Int, y: Int)       => x < y
      case (x: String, y: String) => x < y
      case (x: Number, y: Number) => x.doubleValue < y.doubleValue
      case _ => a.toString < b.toString
    }
    val pairRows = for {
      ga <- labels; gb <- labels
      if anyLt(ga, gb)
    } yield {
      val (ca, cb) = (centArr(ga), centArr(gb))
      val dq = (0 until math.min(ca.length, cb.length))
        .map(i => math.floor(ca(i) * cb(i) * 1.0e9).toLong).sum
      org.apache.spark.sql.Row(ga, gb, nMembers(ga), nMembers(gb),
        cos(dq, nq(ga), nq(gb)))
    }
    val pairSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("label_a", gType),
      org.apache.spark.sql.types.StructField("label_b", gType),
      org.apache.spark.sql.types.StructField("n_a",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("n_b",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("centroid_cos",
        org.apache.spark.sql.types.DoubleType)))
    // Job 2: member cohesion in ONE corpus scan — the per-member dot
    // against the own-label centroid rides the row (QDotStats9, exact
    // quantize-then-sum ≡ the old posexplode → (g,pos) join → SUM
    // chain, which shuffled dim× the corpus), then one domain-keyed
    // aggregate; the tiny pair table broadcasts on at the end.
    val centDf = broadcast(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          labels.map(g => org.apache.spark.sql.Row(g, centArr(g).toSeq,
            nq(g)))).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("g", gType),
        org.apache.spark.sql.types.StructField("cent",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = false)),
        org.apache.spark.sql.types.StructField("nq",
          org.apache.spark.sql.types.LongType)))))
    val memCos = base
      .select(label.as("g"), vec.as("v"))
      .join(centDf, Seq("g"))
      .select(col("g"),
        graft.functions.QDotStats9(col("v"), col("cent")).as("s"),
        col("nq"))
      .select(col("g"),
        when(col("s.mq") <= 0L || col("nq") <= 0L, lit(null).cast("double"))
          .otherwise((col("s.dq").cast("double") / lit(1.0e9)) /
            (sqrt(col("s.mq").cast("double") / lit(1.0e9)) *
              sqrt(col("nq").cast("double") / lit(1.0e9)))).as("mc"))
    // cohesion is |labels| rows — collect it (job 2) and assemble the
    // labels² output as a LocalRelation, instead of self-joining the
    // cohesion subtree twice (which would re-run the corpus scan under
    // each broadcast side)
    val cohMap: Map[Any, Any] = memCos
      .groupBy(col("g"))
      .agg((sum(q9(col("mc"))).cast("double") / lit(1.0e9) /
        count(col("mc")).cast("double")).as("coh"))
      .collect().map(r => r.get(0) -> r.get(1)).toMap
    val outRows = pairRows.map { r =>
      org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2), r.get(3),
        r.get(4), cohMap.getOrElse(r.get(0), null),
        cohMap.getOrElse(r.get(1), null))
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(outRows).asJava),
      org.apache.spark.sql.types.StructType(
        pairSchema.fields ++ Seq(
          org.apache.spark.sql.types.StructField("coh_a",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("coh_b",
            org.apache.spark.sql.types.DoubleType))))
  }

  /** Margin-based neighbor scoring (Artetxe & Schwenk, ACL'19 — the
    * bitext-mining criterion): margin(x, y) = cos(x, y) divided by the
    * mean of the two directions' average k-NN cosines. Raw cosine
    * thresholds over-select from dense hubs (their cosines run high to
    * EVERYTHING); the margin renormalizes each pair by its endpoints'
    * local similarity level, so a pair only scores high when it is
    * similar BEYOND its neighborhoods' baseline — the standard mined-
    * pair filter for parallel-corpus construction.
    *
    * Determinism/audit bounds (the LOF conventions): runs over the
    * `id % queryMod = 0` panel; per-vector k-NN by (cos desc, id);
    * each neighbor cosine quantizes floor(·10⁹) LONG before the
    * per-vector sum, so average-similarity denominators fold exactly;
    * margins rank (margin desc, ids) into a global top-K. Panel² audit
    * cost — the production path replaces the panel cross join with
    * [[lshBucketedPairs]]/[[ivfTopKProbes]] candidates, identical
    * scoring. */
  def marginScores(df: DataFrame, id: Column, vec: Column, k: Int,
                   queryMod: Long, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = df.filter(id % lit(queryMod) === 0L)
      .select(id.as("vec_id"), vec.as("v"))
    // symmetric-cosine half + mirror (the hubness/LOF pipeline shape)
    val half = p.select(col("vec_id").as("a"), col("v").as("va"))
      .crossJoin(broadcast(p.select(col("vec_id").as("b"),
        col("v").as("vb"))))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        CosineSimilarity(col("va"), col("vb")).as("cos"))
    val w = Window.partitionBy(col("a")).orderBy(col("cos").desc, col("b"))
    val knn = graft.core.Caches.track(half
      .unionByName(half.select(col("b").as("a"), col("a").as("b"),
        col("cos")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("a"), col("b"), col("cos")))
    val avg = knn.groupBy(col("a"))
      .agg(sum(floor(col("cos") * lit(1.0e9)).cast("long")).as("sq"),
        count(lit(1)).as("nk"))
    val denom = (col("sq").cast("double") / lit(1.0e9) /
        col("nk").cast("double") +
      col("sqb").cast("double") / lit(1.0e9) /
        col("nkb").cast("double")) / lit(2.0)
    val margin = when(denom <= lit(0.0), lit(null).cast("double"))
      .otherwise(col("cos") / denom)
    knn.join(avg, Seq("a"))
      .join(avg.select(col("a").as("b"), col("sq").as("sqb"),
        col("nk").as("nkb")), Seq("b"))
      .select(col("a").as("query_id"), col("b").as("neighbor_id"),
        col("cos"), margin.as("margin"))
      .orderBy(col("margin").desc_nulls_last, col("query_id"),
        col("neighbor_id"))
      .limit(topK)
      .withColumn("rank", row_number().over(Window.orderBy(
        col("margin").desc_nulls_last, col("query_id"),
        col("neighbor_id"))).cast("long"))
  }

  /** Greedy k-center coreset (Gonzalez 1985) over an embedding corpus
    * under cosine distance — the farthest-point selection behind
    * coreset/data-pruning passes ("pick k maximally spread exemplars")
    * with its 2-approximation cover guarantee. Round r adds the point
    * maximizing its distance to the already-chosen set; the emitted
    * `sep_dist` is that max-min distance — the covering radius of the
    * first r−1 centers, the monotone curve a "how many exemplars do I
    * need" decision reads.
    *
    * Determinism: the seed is the LOWEST id (no RNG); per-point
    * distances quantize to floor((1−cos)·10⁹) LONG before the argmax
    * (the PSI compare discipline) and ties break to the lowest id, so
    * the selection replays identically on both engines — the oracle
    * twin unrolls the same k rounds as CTEs over the identical
    * integer compares.
    *
    * Shape (the pcaPower literal-state discipline): each round is ONE
    * corpus pass against the ≤k chosen vectors re-entering as
    * LITERALS (driver state is O(k·dim), never O(corpus)); the base
    * projection persists across the k passes; each pass is a
    * TakeOrdered(1) — no shuffle beyond the top-1 reduce. k passes
    * over the corpus is the textbook Gonzalez cost. */
  def kCenterCoreset(df: DataFrame, id: Column, vec: Column,
                     k: Int): DataFrame = {
    require(k >= 2, "a coreset needs at least 2 centers")
    val spark = df.sparkSession
    import spark.implicits._
    val base = graft.core.Caches.track(
      df.filter(id.isNotNull && vec.isNotNull)
        .select(id.cast("long").as("vec_id"), vec.as("v")))
    val seed = base.orderBy(col("vec_id")).limit(1)
      .collect().head
    var chosen = Vector[(Long, Array[Float], Option[Long])](
      (seed.getLong(0), seed.getSeq[Float](1).toArray, None))
    for (_ <- 1 until k) {
      val dq = chosen.map { case (_, cv, _) =>
        floor((lit(1.0) - CosineSimilarity(col("v"), typedLit(cv))) *
          lit(1.0e9)).cast("long")
      }.reduce(least(_, _))
      val next = base
        .filter(!col("vec_id").isin(chosen.map(_._1): _*))
        .select(col("vec_id"), col("v"), dq.as("dq"))
        .orderBy(col("dq").desc, col("vec_id")).limit(1)
        .collect().head
      chosen = chosen :+ ((next.getLong(0),
        next.getSeq[Float](1).toArray, Some(next.getLong(2))))
    }
    chosen.zipWithIndex.map { case ((i, _, d), r) =>
      (r.toLong, i, d)
    }.toDF("sel_round", "vec_id", "dq")
      .select(col("sel_round"), col("vec_id"),
        (col("dq").cast("double") / lit(1.0e9)).as("sep_dist"))
  }

  /** Matryoshka truncation audit (Kusupati et al., NeurIPS'22): how
    * much of the full-dimension top-k survives when retrieval runs on
    * only the first `prefixDim` components? MRL-trained embeddings
    * front-load information precisely so a store can search the short
    * prefix and re-rank with the tail — this measures whether THESE
    * embeddings earn that layout (high overlap = ship the prefix
    * index at prefixDim/dim of the memory; low = the tail carries
    * rank-relevant mass and truncation would silently degrade
    * retrieval).
    *
    * Both rankings are exact brute-force cosine against the query
    * vector (id `queryId`, excluded from candidates), tie-broken on
    * the id — two heap top-k jobs (TakeOrdered, never a global sort)
    * plus a k-row equi-join; the emitted fraction divides two exact
    * integers. Returns ONE row: (k, prefix_dim, n_overlap,
    * overlap_frac). */
  def matryoshkaOverlap(df: DataFrame, id: Column, vec: Column,
                        queryId: Long, k: Int, prefixDim: Int): DataFrame = {
    val q = df.filter(id === queryId)
      .select(vec.as("qv"), slice(vec, 1, prefixDim).as("qp"))
    val cand = df.filter(id =!= queryId)
      .crossJoin(broadcast(q))
    val full = cand
      .select(id.as("vec_id"), CosineSimilarity(vec, col("qv")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(k)
    val pre = cand
      .select(id.as("vec_id"),
        CosineSimilarity(slice(vec, 1, prefixDim), col("qp")).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(k)
    full.select(col("vec_id")).join(pre.select(col("vec_id")), Seq("vec_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .select(lit(k.toLong).as("k"), lit(prefixDim.toLong).as("prefix_dim"),
        col("n_overlap"),
        (col("n_overlap").cast("double") / lit(k.toDouble))
          .as("overlap_frac"))
  }

  /** Contrastive training-pair mining — the dataset-construction step
    * of embedding/retriever training: for each anchor, the nearest
    * SAME-label vector is the positive and the top-k nearest
    * DIFFERENT-label vectors are the hard negatives (the in-batch-
    * random-negative upgrade every contrastive recipe ships). Emits
    * (anchor_id, role 'positive'|'hard_negative', rank, vec_id, cos).
    *
    * Anchors are the rows matching `anchorPred` — and the predicate
    * MUST select a FIXED-SIZE panel, not a rate: per-anchor cost is a
    * full corpus scan, so a rate panel makes the stage quadratic
    * (measured: a 1-in-4 rate took 1.9 s at sf0.1 and 220 s at sf1 —
    * 100x work at 10x data). A bounded panel (id residue AND an id
    * ceiling, or a literal anchor list) keeps mining linear in the
    * corpus. The corpus scans ONCE against the broadcast panel;
    * per-anchor rankings are partitioned windows; NULL labels drop
    * (no supervision signal). Ties break to the lower vec_id — the
    * assigner rule everywhere in this file. */
  def contrastiveMine(df: DataFrame, id: Column, vec: Column,
                      label: Column, anchorPred: Column,
                      kNeg: Int): DataFrame = {
    val base = df.filter(label.isNotNull && vec.isNotNull)
      .select(id.as("vec_id"), vec.as("v"), label.as("lbl"),
        anchorPred.as("__isAnchor"))
    val anchors = base.filter(col("__isAnchor"))
      .select(col("vec_id").as("anchor_id"), col("v").as("av"),
        col("lbl").as("albl"))
    val scored = base.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("albl"), col("vec_id"), col("lbl"),
        CosineSimilarity(col("v"), col("av")).as("cos"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    val pos = scored.filter(col("lbl") === col("albl"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 1L)
      .select(col("anchor_id"), lit("positive").as("role"), col("rank"),
        col("vec_id"), col("cos"))
    val neg = scored.filter(col("lbl") =!= col("albl"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= kNeg)
      .select(col("anchor_id"), lit("hard_negative").as("role"),
        col("rank"), col("vec_id"), col("cos"))
    pos.unionByName(neg)
  }
}
