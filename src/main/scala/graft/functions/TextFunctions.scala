package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data
  * pipelines: tokenization, quality scoring, language ID, document
  * fingerprinting, shingling, MinHash, SimHash.
  *
  * Design rules:
  *  - everything is built from `org.apache.spark.sql.functions._`
  *    (codegen'd, stays inside WholeStageCodegen — no UDFs);
  *  - everything is deterministic, so results can be verified against
  *    an independent engine running the same formula;
  *  - per-row cost is O(len(text)); no shuffles are introduced here.
  *
  * Reference analogue: the ColumnFilter family
  * (DPF/filters/column_filter.py:8-68; texts/lang_filter.py:8;
  * texts/regex_filter.py:15) — metadata-only 1-row-in/1-row-out maps.
  */
object TextFunctions {

  /** Whitespace tokens with empties removed (robust to leading /
    * trailing / repeated whitespace). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= lit(""))

  /** Token count — the whitespace half of DPF-style token counting. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: splits on word/non-word boundaries so
    * punctuation counts as its own token, then counts ~4-char chunks
    * of long words (a cheap deterministic stand-in for a BPE vocab). */
  def subwordCount(text: Column): Column = {
    val words = filter(split(text, "[^\\p{L}\\p{N}]+"), t => t =!= lit(""))
    // ceil(len/4) per word; floor() because Column./ is float division
    aggregate(words, lit(0L),
      (acc, w) => acc + floor((length(w) + lit(3)) / lit(4)).cast("long"))
  }

  /** Mean token length in characters (0.0 for empty docs). */
  def meanTokenLength(text: Column): Column = {
    val ts = tokens(text)
    when(size(ts) === 0, lit(0.0)).otherwise(
      aggregate(ts, lit(0L), (acc, t) => acc + length(t).cast("long"))
        .cast("double") / size(ts).cast("double"))
  }

  /** Ratio of non-alphanumeric, non-space characters to total chars. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      (length(text) - length(regexp_replace(text, "[^\\p{L}\\p{N}\\s]", "")))
        .cast("double") / length(text).cast("double"))

  /** Ratio of uppercase letters to total letters (0.0 if no letters). */
  def upperRatio(text: Column): Column = {
    val letters = length(regexp_replace(text, "[^\\p{L}]", ""))
    val uppers  = length(regexp_replace(text, "[^\\p{Lu}]", ""))
    when(letters === 0, lit(0.0))
      .otherwise(uppers.cast("double") / letters.cast("double"))
  }

  /** Fraction of tokens that are in the given stopword list
    * (case-insensitive). Small lists only — inlined into the plan. */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val ts  = tokens(lower(text))
    val sw  = array(stopwords.map(lit): _*)
    val hit = size(filter(ts, t => array_contains(sw, t)))
    when(size(ts) === 0, lit(0.0))
      .otherwise(hit.cast("double") / size(ts).cast("double"))
  }

  /** English stopword list used by the default quality score. */
  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "for", "on", "with", "as", "at", "by", "it", "that", "this")

  /** Composite quality score in [0,1]: rewards mid-length documents,
    * penalizes punctuation soup and all-caps shouting, rewards a
    * natural stopword rate. Deterministic, SQL-mirrorable. */
  def qualityScore(text: Column): Column =
    round(qualityScoreRaw(text), 4)

  /** Unrounded quality score — callers choose the rounding policy
    * (queries use the shared epsilon-rounding in [[graft.queries.Num]]). */
  def qualityScoreRaw(text: Column): Column = {
    val nTok    = tokenCount(text).cast("double")
    val lenOk   = when(nTok >= 5 && nTok <= 5000, lit(1.0))
      .otherwise(when(nTok === 0, lit(0.0)).otherwise(lit(0.5)))
    val punctOk = lit(1.0) - least(punctRatio(text) * 2.0, lit(1.0))
    val caseOk  = lit(1.0) - upperRatio(text)
    val stopOk  = least(stopwordRatio(text, EnglishStopwords) * 4.0, lit(1.0))
    lenOk * 0.3 + punctOk * 0.3 + caseOk * 0.2 + stopOk * 0.2
  }

  /** [[qualityScoreRaw]] over a pre-computed feature struct
    * ([[graft.functions.GraftFunctions.textFeatures]]): the same
    * formula tree over the same double values — bit-identical to the
    * composable form (parity spec) at one featurization pass instead
    * of four. */
  def qualityScoreFromFeatures(f: Column): Column = {
    val nTok    = f.getField("ntok").cast("double")
    val lenOk   = when(nTok >= 5 && nTok <= 5000, lit(1.0))
      .otherwise(when(nTok === 0, lit(0.0)).otherwise(lit(0.5)))
    val punctOk = lit(1.0) - least(f.getField("punct") * 2.0, lit(1.0))
    val caseOk  = lit(1.0) - f.getField("upper_r")
    val stopOk  = least(f.getField("stop_r") * 4.0, lit(1.0))
    lenOk * 0.3 + punctOk * 0.3 + caseOk * 0.2 + stopOk * 0.2
  }

  /** [[modelScoreRaw]] over a pre-computed feature struct — same
    * IEEE arithmetic, one featurization pass. */
  def modelScoreFromFeatures(f: Column,
      weights: ModelWeights = DefaultModelWeights): Column = {
    val z = lit(weights.bias) +
      f.getField("ntok").cast("double") * weights.wTokens +
      f.getField("meanlen") * weights.wMeanLen +
      f.getField("punct") * weights.wPunct +
      f.getField("upper_r") * weights.wUpper +
      f.getField("stop_r") * weights.wStop
    (lit(1.0) + z / (lit(1.0) + abs(z))) * 0.5
  }

  /** Linear "model" score over the deterministic text features with
    * an ALGEBRAIC squashing function: s(z) = 0.5·(1 + z/(1+|z|)).
    * This is the model-backed-filter shape (aesthetic/NSFW scoring:
    * featurize → linear head → squash) with a deterministic stand-in
    * for the network: every op is exact IEEE arithmetic, so an
    * independent engine reproduces it bit-for-bit — unlike exp(),
    * whose libm rounding differs across engines. Production swaps an
    * ONNX head behind the same DataFilter contract. */
  def modelScoreRaw(text: Column, weights: ModelWeights = DefaultModelWeights)
      : Column = {
    val z = lit(weights.bias) +
      tokenCount(text).cast("double") * weights.wTokens +
      meanTokenLength(text) * weights.wMeanLen +
      punctRatio(text) * weights.wPunct +
      upperRatio(text) * weights.wUpper +
      stopwordRatio(text, EnglishStopwords) * weights.wStop
    (lit(1.0) + z / (lit(1.0) + abs(z))) * 0.5
  }

  final case class ModelWeights(bias: Double, wTokens: Double,
      wMeanLen: Double, wPunct: Double, wUpper: Double, wStop: Double)

  /** Arbitrary fixed head (stands in for trained weights). */
  val DefaultModelWeights: ModelWeights =
    ModelWeights(bias = -1.0, wTokens = 0.02, wMeanLen = 0.1,
      wPunct = -3.0, wUpper = -1.5, wStop = 2.0)

  /** Marker words for the n-gram/keyword language-ID heuristic.
    * Deliberately tiny and deterministic: real pipelines plug in a
    * model via DataFilter; this is the oracle-checkable scale path. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "it", "with"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que", "une", "des"),
    "es" -> Seq("el", "los", "las", "es", "una", "por", "para", "con"),
  )

  /** Per-language marker hit count. */
  def langScore(text: Column, markers: Seq[String]): Column = {
    val ts = tokens(lower(text))
    val mk = array(markers.map(lit): _*)
    size(filter(ts, t => array_contains(mk, t)))
  }

  /** Heuristic language ID:
    *  - any CJK character        → "zh"
    *  - any Cyrillic character   → "ru"
    *  - else argmax of marker hits over [[LangMarkers]], ties broken
    *    by list order, zero hits → "und".
    */
  def langId(text: Column): Column = {
    val scored = LangMarkers.map { case (l, ms) => (l, langScore(text, ms)) }
    // argmax with first-wins tie-break, as a fold over whens
    val best = scored.tail.foldLeft((lit(LangMarkers.head._1), scored.head._2)) {
      case ((bestLang, bestScore), (l, s)) =>
        (when(s > bestScore, lit(l)).otherwise(bestLang),
         when(s > bestScore, s).otherwise(bestScore))
    }
    when(text.rlike("[\\u4e00-\\u9fff]"), lit("zh"))
      .when(text.rlike("[\\u0400-\\u04ff]"), lit("ru"))
      .when(best._2 === 0, lit("und"))
      .otherwise(best._1)
  }

  /** 128-bit document fingerprint: md5 of the normalized text
    * (lowercased, whitespace collapsed). Exact-dedup key. */
  def fingerprint(text: Column): Column =
    md5(normalize(text).cast("binary"))

  /** Normalization used by fingerprint/minhash: lowercase + collapse
    * whitespace + trim. */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Word k-shingles over normalized tokens. Documents shorter than k
    * tokens yield a single shingle of all tokens (never empty for
    * non-empty docs). */
  def shingles(text: Column, k: Int): Column = {
    val ts = tokens(normalize(text))
    val n  = size(ts)
    when(n === 0, array().cast("array<string>"))
      .when(n <= k, array(concat_ws(" ", ts)))
      .otherwise(transform(sequence(lit(1), n - (k - 1)),
        i => concat_ws(" ", slice(ts, i, lit(k)))))
  }

  /** MinHash hash family: ONE md5 per shingle (a 60-bit prefix of the
    * digest), then k affine maps `(a_k·h + b_k) mod P` over the
    * Mersenne prime P = 2^31−1. The md5 is the expensive step — the
    * one-digest-many-maps factoring is 16× cheaper than hashing each
    * shingle per seed, and every step is integer arithmetic any engine
    * reproduces bit-for-bit (h mod P < 2^31, a_k < 2^31 ⇒ the product
    * stays inside a signed 64-bit long). */
  val MinhashP: Long = expressions.MinhashSignature.P
  def minhashA(seed: Int): Long = expressions.MinhashSignature.a(seed)
  def minhashB(seed: Int): Long = expressions.MinhashSignature.b(seed)

  /** 60-bit base hashes of a shingle array: first 15 hex chars of each
    * md5, parsed base-16 (fits a signed long). Materialize this ONCE
    * per document; the per-seed maps below reuse it. */
  /** The 60-bit md5-prefix hash (first 15 hex digits parsed base-16
    * — fits a signed long): the shared fingerprint die of the sketch
    * family. DuckDB mirror:
    * `CAST(concat('0x', substring(md5(x), 1, 15)) AS BIGINT)`. */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Driver/JVM-side twin of [[hash60]] — THE shared die
    * implementation ([[expressions.MinhashSignature.hash60]]), so a
    * driver-computed probe (e.g. a bloom lookup) can never drift from
    * the engine-side value. */
  def hash60Jvm(s: String): Long =
    expressions.MinhashSignature.hash60(
      org.apache.spark.unsafe.types.UTF8String.fromString(s))

  def shingleHashes(shingleCol: Column): Column =
    transform(shingleCol, s => hash60(s))

  /** One MinHash value from pre-computed base hashes: the minimum of
    * the seed's affine map over the document's shingle-hash set. Null
    * for shingle-less (empty) documents. */
  def minhashFromHashes(hashesCol: Column, seed: Int): Column =
    array_min(transform(hashesCol,
      h => (lit(minhashA(seed)) * (h % lit(MinhashP)) + lit(minhashB(seed)))
        % lit(MinhashP)))

  /** One MinHash value straight from shingles (re-hashes the shingles;
    * prefer [[shingleHashes]] + [[minhashFromHashes]] when computing a
    * full signature). */
  def minhash(shingleCol: Column, seed: Int): Column =
    minhashFromHashes(shingleHashes(shingleCol), seed)

  /** Full MinHash signature as an array of k longs — base hashes
    * computed once, k affine mins over them. */
  def minhashSignature(text: Column, numHashes: Int, shingleSize: Int = 3)
      : Column = {
    val hs = shingleHashes(shingles(text, shingleSize))
    array((0 until numHashes).map(seed => minhashFromHashes(hs, seed)): _*)
  }

  /** LSH band keys: the signature is split into `bands` groups of
    * `rowsPerBand` hashes; each band key is the md5 of the band's
    * concatenated member hashes, prefixed with the band index so keys
    * from different bands never collide. */
  def minhashBands(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      md5(concat_ws("|",
        (lit(s"band$b") +:
          (0 until rowsPerBand).map(r =>
            element_at(signature, b * rowsPerBand + r + 1).cast("string"))): _*)
        .cast("binary"))
    }: _*)

  /** 32-bit uniform hash of a string: first 8 hex chars of md5, parsed
    * base-16 — reproducible in any engine with md5. */
  def hash32(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long")

  /** SimHash over an arbitrary string-set column (`bits` ≤ 63):
    * bit_b = 1 iff Σ over items of (+1 if bit_b(hash32(item)) else -1)
    * is > 0. Pass shingles rather than tokens when the vocabulary is
    * small — the feature set must be rich enough to discriminate.
    * Materialize [[simhashHashes]] as its own column first so the md5
    * pass over the set runs once, not once per bit. */
  def simhashOfHashes(hashes: Column, bits: Int = 32): Column = {
    require(bits <= 63, "simhash supports at most 63 bits here")
    val bitCols = (0 until bits).map { b =>
      val mask = 1L << b
      val votes = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(h.bitwiseAND(lit(mask)) > 0, lit(1L))
          .otherwise(lit(-1L)))
      when(votes > 0, lit(mask)).otherwise(lit(0L))
    }
    bitCols.reduce(_ + _)
  }

  /** hash32 of each distinct item — the precomputed input to
    * [[simhashOfHashes]]. */
  def simhashHashes(items: Column): Column =
    transform(array_distinct(items), h => hash32(h))

  /** 60-bit md5 hash of each distinct item — the wide-sketch input
    * (every bit of a 60-bit simhash needs feature-hash signal). */
  def simhashHashes60(items: Column): Column =
    shingleHashes(array_distinct(items))

  /** SimHash over distinct whitespace tokens of the normalized text. */
  def simhash(text: Column, bits: Int = 32): Column =
    simhashOfHashes(simhashHashes(tokens(normalize(text))), bits)

  /** Hamming distance between two simhash longs (any width ≤ 63). */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Character n-gram set (distinct) for n-gram Jaccard similarity. */
  def charNgrams(text: Column, n: Int): Column = {
    val t   = normalize(text)
    val len = length(t)
    when(len < n, when(len === 0, array().cast("array<string>"))
        .otherwise(array(t)))
      .otherwise(array_distinct(transform(sequence(lit(1), len - (n - 1)),
        i => t.substr(i, lit(n)))))
  }

  /** Distinct-token ratio of the lowercased text (1.0 = no repeated
    * token; unrounded — callers apply their own rounding policy).
    * Repetition gate ingredient (with [[topTokenShare]]). */
  def distinctTokenRatio(text: Column): Column = {
    val ts = tokens(lower(text))
    when(size(ts) === 0, 0.0)
      .otherwise(size(array_distinct(ts)).cast("double") /
        size(ts).cast("double"))
  }

  /** Share of the single most frequent token (unrounded) — the
    * composable parity reference: it counts every distinct token with
    * its own interpreted scan (quadratic per doc). Executed paths use
    * the native one-pass
    * `GraftFunctions.topItemShareNative(tokens(lower(text)))`, which
    * the parity spec pins to this formula and the oracles mirror. */
  def topTokenShare(text: Column): Column = {
    val ts = tokens(lower(text))
    val counts = transform(array_distinct(ts),
      x => size(filter(ts, y => y === x)))
    when(size(ts) === 0, 0.0)
      .otherwise(array_max(counts).cast("double") /
        size(ts).cast("double"))
  }

  /** Positional word n-grams of the lowercased text: element i spans
    * tokens [i, i+n). Empty array (not null) when the doc has fewer
    * than n tokens, so generators drop the row cleanly. The composable
    * parity reference of the native `GraftFunctions.wordNgramsNative`
    * (one walk per doc; this form interprets a lambda per window). */
  def wordNgrams(text: Column, n: Int): Column = {
    val ts = tokens(lower(text))
    when(size(ts) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(ts) - n),
        i => concat_ws(" ", slice(ts, i + lit(1), lit(n)))))
  }

  /** Occurrence share of the single most frequent element (unrounded;
    * 0.0 for empty input) — the n-gram generalization of
    * [[topTokenShare]] and, like it, the composable parity reference:
    * quadratic per row. Executed paths use the native one-pass
    * `GraftFunctions.topItemShareNative`, pinned to this formula by
    * the parity spec. */
  def topItemShare(items: Column): Column = {
    val counts = transform(array_distinct(items),
      x => size(filter(items, y => y === x)))
    when(size(items) === 0, 0.0)
      .otherwise(array_max(counts).cast("double") /
        size(items).cast("double"))
  }

  /** Jaccard similarity of two string arrays (treated as sets). */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni   = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }
}
