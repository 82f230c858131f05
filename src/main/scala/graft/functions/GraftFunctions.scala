package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level function library (SURVEY.md §2.4 "scalar functions",
  * §7.3).
  *
  * The reference's function surface is "any Clojure fn inside map/filter"
  * (reference: src/kafka_streams_clojure/api.clj:157-159) — a UDF-only
  * model. Engine policy is the reverse: everything here composes BUILT-IN
  * `org.apache.spark.sql.functions` (whole-stage-codegen'd, pushdown-safe)
  * and is deliberately reproducible in ANSI-ish SQL so every operator has
  * a DuckDB oracle twin.
  */
object GraftFunctions {

  /** Deterministic 60-bit hash of a string column: the first 15 hex digits
    * of md5, as a non-negative BIGINT. Chosen over murmur/xxhash because
    * md5 is identically available in DuckDB (oracle parity) and 60 bits
    * avoids sign issues. Salted variants give the independent hash
    * families MinHash/SimHash/LSH need. */
  def md5Long(c: Column, salt: Int = 0): Column = {
    val salted = if (salt == 0) c else concat(lit(salt.toString + "|"), c)
    conv(substring(md5(salted), 1, 15), 16, 10).cast("long")
  }

  /** Byte-transparent recode: UTF-8 bytes reinterpreted as Latin-1
    * chars, one char per byte. Exists for ONE reason: Spark's
    * `levenshtein` counts CODEPOINTS while DuckDB/Postgres count UTF-8
    * BYTES, so any multibyte text silently diverges (measured: the
    * adversarial İ/Σ docs — dist 3 vs 6). Distance operators run on
    * this recoding, making byte-Levenshtein the DOCUMENTED semantics
    * on both engines: identical to codepoint distance on ASCII,
    * locale-free everywhere. NFC-normalize upstream when canonical
    * equivalence (İ vs I+U+0307) should count as distance 0. */
  def byteString(c: Column): Column = decode(encode(c, "UTF-8"), "ISO-8859-1")

  /** Whitespace tokenizer — the shared token basis for text analysis,
    * shingles, SimHash. Drops empty tokens. Native single-pass
    * expression ([[Tokens]]); value-identical to
    * `filter(split(text, " "), t => length(t) > 0)` (spec-pinned). */
  def tokens(text: Column): Column = Tokens(text, fold = false)

  /** [[tokens]] with each token folded through the İ/Σ-safe lowercase
    * in the same native pass — replaces the interpreted
    * `transform(tokens(text), foldLower)` chain in term pipelines. */
  def tokensFolded(text: Column): Column = Tokens(text, fold = true)

  /** Word w-shingles: overlapping windows of `w` tokens joined by a
    * space. Empty array when the document has fewer than `w` tokens.
    * Native single-pass expression — see [[Shingles]]. */
  def shingles(text: Column, w: Int): Column = Shingles(tokens(text), w)

  /** Prime modulus for the MinHash permutation family and the rolling
    * fingerprint. Small enough that a*h+b never overflows a Java long. */
  val HashP: Long = 1000000007L

  /** Deterministic affine-permutation coefficients (a_i, b_i) for the
    * MinHash family h_i(x) = (a_i*x + b_i) mod P — fixed Weyl/LCG-style
    * mixing so the identical constants can be embedded in the SQL oracle. */
  def minhashCoeffs(k: Int): Seq[(Long, Long)] =
    (0 until k).map { i =>
      val a = 1L + ((i.toLong * 2654435761L + 1013904223L) % (HashP - 1))
      val b = (i.toLong * 1640531527L + 2654435769L) % HashP
      (a, b)
    }

  /** MinHash signature: k permutation-mins over the element hashes of
    * `arr` (strings). ONE md5 per element (the expensive part), then k
    * cheap affine permutations (a_i*h + b_i) mod P — the textbook
    * universal-hash family. Empty arrays give null signature elements.
    * Implemented as a native single-pass expression ([[MinHashSignature]])
    * because the equivalent HOF composition gets re-inlined k times by
    * CollapseProject. */
  def minhashSignature(arr: Column, k: Int): Column =
    MinHashSignature(arr, k)

  /** LSH band keys from a MinHash signature: split the k-length signature
    * into `bands` contiguous groups and hash each group to one string key.
    * Two documents sharing ANY band key are near-dup candidates. */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      concat_ws("_", b.cast("string"),
        md5(array_join(transform(slice(signature, b * rowsPerBand + 1, lit(rowsPerBand)), v => v.cast("string")), ","))))

  /** 32-bit SimHash over the tokens of `text`: bit b is set iff the sum of
    * (+1 / -1) over tokens' hash-bit-b values is positive. Returns BIGINT.
    * Native single-pass expression — see [[SimHashN]]. */
  def simhash32(text: Column): Column = SimHash32(tokens(text))

  /** Width-bit SimHash (width ≤ 60) over the tokens of `text` — see
    * [[SimHashN]]. */
  def simhashN(text: Column, width: Int): Column = SimHashN(tokens(text), width)

  /** Hamming distance between two BIGINT bit-sets (for SimHash near-dup). */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  /** n-gram Jaccard similarity between two token-set columns:
    * |A ∩ B| / |A ∪ B| as DOUBLE (0 when both empty). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  /** Dot product of two numeric array columns, accumulated in DOUBLE in
    * index order (bit-reproducible in the DuckDB oracle). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm in DOUBLE. */
  def l2norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Cosine similarity of two array<float|double> columns, computed in
    * DOUBLE, index order. 0 when either norm is 0. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = l2norm(a) * l2norm(b)
    when(n === 0, lit(0.0)).otherwise(d / n)
  }

  /** Rolling polynomial (Karp–Rabin) fingerprint over tokens:
    * h = (h*31 + (md5Long(token) mod p)) mod p with p = 1e9+7, in token
    * order. The per-step mod keeps every intermediate < 2^35 — no silent
    * Java-long wraparound, so the identical SQL is exact in the oracle.
    * Native single-pass expression — see [[RollingHash]]. */
  def rollingFingerprint(text: Column): Column = RollingHash(tokens(text))
}
