package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level building blocks for the engine.
  *
  * All of these are compositions of `org.apache.spark.sql.functions`
  * built-ins, so every one stays inside whole-stage codegen — no UDFs,
  * no interpreted expressions in the hot path (SURVEY.md §7.3: no
  * custom Catalyst node is required for reference parity).
  */
object DqFunctions {

  /** Row-wise (horizontal) sample standard deviation with null-skip.
    *
    * Reproduces `pandas.DataFrame.std(axis=1)` (ddof=1, skipna=True)
    * used by the reference at data_consistency_checks.py:140:
    *   - nulls are dropped per-row before the computation;
    *   - fewer than 2 non-null values → null;
    *   - otherwise sqrt((Σx² − (Σx)²/n) / (n−1)), clamped at 0 to
    *     guard tiny negative values from floating-point cancellation.
    */
  def horizontalStddevSamp(cols: Column*): Column = {
    val xs = filter(array(cols.map(_.cast("double")): _*), x => x.isNotNull)
    val n  = size(xs).cast("double")
    val s  = aggregate(xs, lit(0.0), (a, x) => a + x)
    val s2 = aggregate(xs, lit(0.0), (a, x) => a + x * x)
    when(n >= 2,
      sqrt(greatest((s2 - s * s / n) / (n - lit(1.0)), lit(0.0))))
      .otherwise(lit(null).cast("double"))
  }

  /** Proleptic-Gregorian day ordinal (0001-01-01 = 1), matching
    * `pandas.Timestamp.toordinal` (data_consistency_checks.py:136-138).
    * Spark ≥3.0 uses the proleptic Gregorian calendar, so `datediff`
    * against 0001-01-01 matches Python's `date.toordinal` exactly.
    */
  def dateOrdinal(c: Column): Column =
    (datediff(c, to_date(lit("0001-01-01"))) + 1).cast("int")

  // ---------------------------------------------------------------
  // Vector math over ARRAY<FLOAT>/ARRAY<DOUBLE> embedding columns.
  // Sequential left-fold (`aggregate`) keeps the summation order
  // deterministic — bit-identical across runs and engines.
  // ---------------------------------------------------------------

  /** Dot product of two equal-length numeric arrays, computed in
    * double. Backed by the native codegen expression
    * [[graft.functions.VectorDotProduct]]; bit-identical to the HOF
    * composition ([[dotProductHof]]), just without per-pair boxing.
    */
  def dotProduct(a: Column, b: Column): Column =
    VectorExpressions.vectorDot(a, b)

  /** HOF reference implementation of [[dotProduct]] — kept for the
    * bit-parity spec and as the portable fallback.
    */
  private[graft] def dotProductHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Euclidean (L2) norm of a numeric array. */
  def l2Norm(a: Column): Column = sqrt(dotProduct(a, a))

  /** Cosine similarity of two numeric arrays (null-safe on zero norms). */
  def cosineSimilarity(a: Column, b: Column): Column = {
    val d  = dotProduct(a, b)
    val na = l2Norm(a)
    val nb = l2Norm(b)
    when(na > 0 && nb > 0, d / (na * nb)).otherwise(lit(null).cast("double"))
  }

  // ---------------------------------------------------------------
  // Text primitives (dedup / text-analysis operators build on these).
  // ---------------------------------------------------------------

  /** Distinct character n-gram shingles of a string column. */
  def charShingles(text: Column, n: Int): Column =
    array_distinct(
      transform(
        sequence(lit(1), greatest(length(text) - (n - 1), lit(1))),
        i => text.substr(i, lit(n))))

  /** n-token windows of a token-array expression, space-joined, WITH
    * duplicates. Built by zipping n shifted slices of the array, so
    * the (possibly expensive) `toks` subtree evaluates n times per
    * row — the naive `transform(sequence(...), i => slice(toks, ...))`
    * re-evaluates it once per WINDOW (the lambda body re-instantiates
    * the subtree per element), which turns a regexp tokenizer into
    * quadratic per-row work (measured 7.7 s → 0.7 s on the q38 bigram
    * pass at sf0.1). `minWindows = 1` keeps the one degenerate short
    * window for texts under n tokens (zip null-padding is dropped by
    * concat_ws, matching the historical join-of-short-slice); 0
    * yields an empty array instead.
    */
  private[graft] def wordWindows(toks: Column, n: Int, minWindows: Int): Column = {
    val outLen = greatest(size(toks) - lit(n - 1), lit(minWindows))
    val zipped = arrays_zip(
      (0 until n).map(j => slice(toks, lit(j + 1), outLen).as(s"w$j")): _*)
    transform(zipped, s => concat_ws(" ", (0 until n).map(j => s.getField(s"w$j")): _*))
  }

  /** Distinct word n-gram shingles (whitespace tokenization).
    * Spark's `trim` strips only ' ', so text bounded by '\t'/'\n'
    * leaves empty edge fields in the split — remove them so the
    * token list matches the native tokenizer (Md5Prefix
    * .wordNgramHashes) and the oracle's empty-filtered list.
    */
  def wordShingles(text: Column, n: Int): Column = {
    val toks = wordTokens(text)
    // zero tokens (empty / all-whitespace text) → the one degenerate
    // empty-join window, matching the native short-text convention
    // (one hash of "") and the oracle's len(t) <= n arm
    val safe = when(size(toks) === 0, array(lit(""))).otherwise(toks)
    array_distinct(wordWindows(safe, n, minWindows = 1))
  }

  /** Whitespace-run tokens with empty fields removed. */
  private[graft] def wordTokens(text: Column): Column =
    array_remove(split(trim(text), "\\s+"), "")

  /** Jaccard similarity of two array-typed set columns. */
  def jaccardSim(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni   = size(array_union(a, b)).cast("double")
    when(uni > 0, inter / uni).otherwise(lit(0.0))
  }

  /** k MinHash values for an array-of-shingles column.
    *
    * Universal-hash family h_i(x) = (a_i·x + b_i) mod p over a 64-bit
    * base hash (xxhash64) of each shingle; the minimum per hash
    * function over the shingle set is the signature component.
    * Returns ARRAY<LONG> of length k. Pure codegen'd built-ins.
    *
    * PERFORMANCE: this Column duplicates the `shingles` subtree k
    * times — fine only when `shingles` is already a plain attribute.
    * Passing a computed expression (e.g. charShingles(...)) makes the
    * plan rebuild the shingle array k times per row. Use the staged
    * projections in `Dedup.minhashSignatures` for the hot path.
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    minhashFromBase(minhashBaseHashes(shingles), k)

  /** Base 31-bit hash per shingle — compute ONCE per row (alias it in
    * its own projection so Catalyst cannot inline it k times).
    */
  def minhashBaseHashes(shingles: Column): Column =
    transform(shingles, s => pmod(xxhash64(s), lit(MinhashPrime)))

  /** Engine-portable variant of [[minhashBaseHashes]]: md5 → first 8
    * hex digits → mod p. DuckDB states the identical hash as
    * `CAST(('0x' || substr(md5(g), 1, 8)) AS UBIGINT) % p`, so
    * minhash signatures built on this base are oracle-checkable
    * bit-for-bit. xxhash64 ([[minhashBaseHashes]]) is the cheaper
    * in-engine path; the affine permutation family on top is shared.
    */
  def minhashBaseHashesPortable(shingles: Column): Column =
    transform(shingles, s =>
      pmod(conv(substring(md5(s.cast("binary")), 1, 8), 16, 10).cast("long"),
        lit(MinhashPrime)))

  /** Engine-portable 60-bit string hash: md5 → first 15 hex digits.
    * Nonnegative and < 2⁶⁰, so it fits a signed 64-bit long in both
    * engines (DuckDB: `CAST(('0x' || substr(md5(t), 1, 15)) AS
    * UBIGINT)`).
    */
  def md5Hash60(s: Column): Column =
    conv(substring(md5(s.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Signature from precomputed base hashes: k × (array_min of the
    * affine-permuted hashes). Only long arithmetic per hash function.
    */
  def minhashFromBase(baseHashes: Column, k: Int): Column = {
    val p = MinhashPrime
    array(minhashCoeffs(k).map { case (a, b) =>
      array_min(transform(baseHashes, h => pmod(lit(a) * h + lit(b), lit(p))))
    }: _*)
  }

  /** 2^31 − 1 (Mersenne). A 31-bit hash space keeps a·h + b within a
    * signed 64-bit long (ANSI mode forbids silent overflow) while
    * leaving minhash collision odds negligible (~n²/2³² per slot).
    */
  val MinhashPrime: Long = 2147483647L

  /** Deterministic (a_i, b_i) coefficients for the minhash family —
    * a fixed-seed splitmix64 sequence, no RNG at plan time.
    */
  def minhashCoeffs(k: Int): Seq[(Long, Long)] = {
    var x = 0x9E3779B97F4A7C15L
    def next(): Long = {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val p = MinhashPrime
    (0 until k).map { _ =>
      val a = java.lang.Math.floorMod(next(), p - 1) + 1 // a ∈ [1, p-1]
      val b = java.lang.Math.floorMod(next(), p)         // b ∈ [0, p-1]
      (a, b)
    }
  }

  /** Estimated Jaccard from two equal-length minhash signatures:
    * fraction of agreeing components. Native one-loop expression (r21)
    * — value-identical to the previous zip_with + aggregate HOF pair,
    * without the boxed intermediate array per scored candidate pair.
    *
    * Both signatures must be `array<bigint>`, the type every signature
    * builder here returns. Unlike the HOF pair it replaced, other
    * element types (e.g. `array<int>`) fail analysis with
    * "minhash_agreement requires two array<bigint>"; cast such input
    * first.
    */
  def minhashAgreement(sigA: Column, sigB: Column): Column =
    MinhashAgreementExpression.minhashAgreementNative(sigA, sigB)

  /** Whitespace token count — number of maximal \S+ runs. */
  def tokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\S+"), lit(0)))

  /** BPE-ish token count: alpha runs, single digits, single other
    * non-space characters (a common pre-tokenizer approximation).
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Whitespace-normalized lowercase form used for fingerprinting. */
  def normalizedText(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Content fingerprint: sha256 hex of the normalized text. */
  def contentFingerprint(text: Column): Column =
    sha2(normalizedText(text).cast("binary"), 256)
}
