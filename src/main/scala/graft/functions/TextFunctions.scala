package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftBridge

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, shingling, MinHash signatures, SimHash, bottom-k
  * fingerprints, language-ID and quality heuristics.
  *
  * All composed from Spark built-ins (codegen'd, no UDFs) or the fused
  * native expressions in [[Expressions.scala]] (built directly through
  * [[GraftBridge]], so they run on any session — registered or not), and
  * designed to be re-expressible in ANSI-ish SQL so every operator has a
  * DuckDB oracle.
  * Hashes are md5-based (hex string arithmetic) — deterministic and
  * portable across engines, unlike JVM `hashCode`/xxhash64.
  */
object TextFunctions {
  private def ex(c: Column) = GraftBridge.expression(c)

  /** Evaluate `arr` ONCE per row and let `f` consume it as a lambda
    * variable — the expression-level analogue of a `val` in generated code.
    *
    * Why this exists: higher-order-function lambdas evaluate their argument
    * EXPRESSION at every reference site when a Column expression (rather
    * than an attribute) is passed in. An O(tokens) `split` inlined into an
    * O(shingles·n) loop turns quadratic per row — measured 40×+ on the
    * shingle pipeline at sf0.1. Wrapping the array in a 1-element array and
    * referencing it through `transform`'s lambda variable forces a single
    * evaluation, like the reference materializing its token list in a local
    * (everything downstream indexes the materialized array). */
  def bindOnce(arr: Column, f: Column => Column): Column =
    element_at(transform(array(arr), a => f(a)), 1)

  /** Whitespace tokens with empty strings removed. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** Contiguous n-gram (word shingle) strings, space-joined. The token
    * array is bound once; each shingle is n O(1) lookups into it. */
  def shingles(text: Column, n: Int): Column =
    bindOnce(tokens(text), toks => {
      val count = size(toks) - (n - 1)
      when(count <= 0, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(0), count - 1), i =>
          concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*)))
    })

  /** First 15 hex chars of md5 as a non-negative BIGINT (60 bits).
    * Identical to DuckDB `('0x' || substr(md5(x),1,15))::BIGINT`. */
  def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** MinHash universe: hashes live in [0, 2³¹−1) so an affine rehash
    * `(a·h + b) mod P` stays inside BIGINT (h·a < 2⁶²) on both engines. */
  val MinhashPrime: Long = 2147483647L // 2^31 − 1 (Mersenne prime)

  /** Scala-side mirror of [[md5Long]] (first 15 md5 hex chars as a long) —
    * used to derive the per-permutation affine coefficients, which are then
    * inlined as literals into both the Spark plan and the oracle SQL. */
  def md5Long60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Deterministic (a_j, b_j) affine coefficients for permutation j. */
  def minhashCoeffs(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map { j =>
      (1L + md5Long60(s"a|$j") % (MinhashPrime - 1), md5Long60(s"b|$j") % MinhashPrime)
    }

  /** Base hash per shingle: md5-derived 60-bit value reduced mod P. One md5
    * per shingle TOTAL — each MinHash permutation is then a cheap affine
    * rehash of this array, not a fresh md5 (16× less hashing than the naive
    * md5(j||'|'||shingle) scheme at identical statistical quality). */
  def shingleHashes(shingleCol: Column): Column =
    transform(shingleCol, s => md5Long(s) % MinhashPrime)

  /** Distinct n-gram shingle hashes straight from the text in ONE fused
    * native pass ([[graft.functions.ShingleHashesExpr]]) — bit-identical
    * to `shingleHashes(array_distinct(shingles(text, n)))`, which it
    * replaces on the MinHash hot path (r18): that chain materializes the
    * token array, a string per shingle through interpreted HOF lambdas,
    * and a 32-char hex string per shingle parsed back with `conv` —
    * measured ~300 µs/doc at sf0.1, the dominant per-document cost of
    * q24/q25/q105 and every screened text batch. */
  def distinctShingleHashes(text: Column, n: Int): Column =
    GraftBridge.column(ShingleHashesExpr(ex(text), n))

  /** MinHash signature from pre-hashed shingles ([[shingleHashes]]):
    * sig_j = min over shingles of (a_j·h + b_j) mod P — the classic
    * universal-hash MinHash (Broder '97). One fused native pass
    * ([[graft.functions.MinhashExpr]]) — the HOF formulation it replaces
    * re-traversed the hash array once per permutation through interpreted
    * lambdas. */
  def minhashFromHashes(hashCol: Column, numHashes: Int): Column =
    GraftBridge.column(MinhashExpr(ex(hashCol), numHashes))

  /** 64-bit-ish SimHash over tokens, restricted to `bits` ≤ 60 bits of the
    * md5-derived integer: bit b is 1 iff Σ_tokens (bit_b(md5(tok)) ? 1 : -1)
    * is positive. Returns BIGINT. One fused native pass
    * ([[graft.functions.SimhashExpr]]) — the HOF formulation it replaces
    * re-traversed the hash array once per bit. */
  def simhash(toksCol: Column, bits: Int = 32): Column =
    GraftBridge.column(SimhashExpr(ex(transform(toksCol, t => md5Long(t))), bits))

  /** Hamming distance between two simhash BIGINTs. */
  def hammingDistance(a: Column, b: Column): Column =
    call_function("bit_count", a.bitwiseXOR(b)).cast("long")

  /** Bottom-k document fingerprint: the k smallest shingle hashes, sorted —
    * a compact sketch whose overlap estimates Jaccard similarity
    * (winnowing-style content fingerprint). */
  def bottomKFingerprint(shingleCol: Column, k: Int): Column =
    slice(array_sort(array_distinct(transform(shingleCol, s => md5Long(s)))), 1, k)

  /** Exact Jaccard similarity between two token/shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** Marker-word score for one language: fraction of tokens in the marker
    * set. Used by the n-gram-free language-ID heuristic. */
  def markerRatio(toksCol: Column, markers: Seq[String]): Column = {
    val markerArr = array(markers.map(lit): _*)
    // empty toks ⇔ empty distinct set, so binding the distinct array keeps
    // the guard semantics while evaluating the tokenization once
    bindOnce(array_distinct(toksCol), dt =>
      when(size(dt) === 0, lit(0.0))
        .otherwise(size(array_intersect(dt, markerArr)).cast("double")
          / size(dt).cast("double")))
  }

  /** [[qualityScore]] in ONE fused native pass
    * ([[graft.functions.QualityScoreExpr]]) — bit-identical (spec-pinned);
    * the HOF chain below stays as the executable definition. */
  def qualityScoreNative(text: Column): Column =
    GraftBridge.column(QualityScoreExpr(ex(text)))

  /** Heuristic quality score in [0,1]: combines length band, mean token
    * length band, and alpha-ratio. Deterministic + SQL-expressible. */
  def qualityScore(text: Column): Column =
    bindOnce(tokens(text), toks => {
      val nTok = size(toks).cast("double")
      val lenScore = when(nTok >= 5 && nTok <= 1000, lit(1.0)).otherwise(lit(0.0))
      val meanTokLen = when(nTok === 0, lit(0.0))
        .otherwise(aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / nTok)
      val tokLenScore = when(meanTokLen >= 2 && meanTokLen <= 12, lit(1.0)).otherwise(lit(0.0))
      val alphaRatio = when(length(text) === 0, lit(0.0))
        .otherwise(length(regexp_replace(text, "[^a-zA-Z ]", "")).cast("double")
          / length(text).cast("double"))
      round((lenScore + tokLenScore + alphaRatio) / 3.0, 6)
    })
}
