package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function
import graft.functions.expressions.{AdcDistance, BitPack, BloomOrAgg, BoundedTopK, CharNgrams, CompressRatio, CosineSimilarity, DotProduct, HyperplaneBuckets, JaccardSim, JsonLongField, L2DistanceSq, LangId, LoadBytes, MinhashSignature, NgramHashes, PqCodes, RewriteHofDotProduct, SimHashBits, TextFeatures, TopItemShare, VectorGram, WordGramHashes, WordNgrams, WordShingles}
import graft.operators.SerializableHadoopConf
import graft.plans.HoistPayloadLoad

/** Engine extension wiring: registers graft's native Catalyst
  * expressions with a SparkSession, either through the standard
  * `spark.sql.extensions=graft.functions.GraftExtensions` config or
  * programmatically via [[GraftFunctions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.descriptions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => RewriteHofDotProduct)
    ext.injectOptimizerRule(_ => HoistPayloadLoad)
  }
}

object GraftFunctions {

  private type Description =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private[functions] val descriptions: Seq[Description] = Seq(
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      { args: Seq[Expression] =>
        require(args.length == 2, "cosine_sim takes exactly 2 arguments")
        CosineSimilarity(args.head, args(1))
      }),
    (FunctionIdentifier("adc_dist"),
      new ExpressionInfo(classOf[AdcDistance].getName, "adc_dist"),
      { args: Seq[Expression] =>
        require(args.length == 2, "adc_dist takes (lut, codes)")
        AdcDistance(args.head, args(1))
      }),
    (FunctionIdentifier("pq_codes"),
      new ExpressionInfo(classOf[PqCodes].getName, "pq_codes"),
      { args: Seq[Expression] =>
        require(args.length == 3,
          "pq_codes takes (vector, codebook literal, subDim literal)")
        PqCodes(args.head, args(1), foldableInt(args(2), "pq_codes"))
      }),
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      { args: Seq[Expression] =>
        require(args.length == 2, "dot_product takes exactly 2 arguments")
        DotProduct(args.head, args(1))
      }),
    (FunctionIdentifier("bit_pack"),
      new ExpressionInfo(classOf[BitPack].getName, "bit_pack"),
      { args: Seq[Expression] =>
        require(args.length == 2, "bit_pack takes (vector, thresholds)")
        BitPack(args.head, args(1))
      }),
    (FunctionIdentifier("l2_dist_sq"),
      new ExpressionInfo(classOf[L2DistanceSq].getName, "l2_dist_sq"),
      { args: Seq[Expression] =>
        require(args.length == 2, "l2_dist_sq takes exactly 2 arguments")
        L2DistanceSq(args.head, args(1))
      }),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinhashSignature].getName, "minhash_sig"),
      { args: Seq[Expression] =>
        require(args.length == 2,
          "minhash_sig takes (shingles array, numHashes literal)")
        MinhashSignature(args.head, foldableInt(args(1), "minhash_sig"))
      }),
    (FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      { args: Seq[Expression] =>
        require(args.length == 2,
          "word_shingles takes (text, k literal)")
        WordShingles(args.head, foldableInt(args(1), "word_shingles"))
      }),
    (FunctionIdentifier("char_ngrams"),
      new ExpressionInfo(classOf[CharNgrams].getName, "char_ngrams"),
      { args: Seq[Expression] =>
        require(args.length == 2, "char_ngrams takes (text, n literal)")
        CharNgrams(args.head, foldableInt(args(1), "char_ngrams"))
      }),
    (FunctionIdentifier("jaccard_sim"),
      new ExpressionInfo(classOf[JaccardSim].getName, "jaccard_sim"),
      { args: Seq[Expression] =>
        require(args.length == 2, "jaccard_sim takes exactly 2 arguments")
        JaccardSim(args.head, args(1))
      }),
    (FunctionIdentifier("ngram_hashes"),
      new ExpressionInfo(classOf[NgramHashes].getName, "ngram_hashes"),
      { args: Seq[Expression] =>
        require(args.length == 2, "ngram_hashes takes (text, n literal)")
        NgramHashes(args.head, foldableInt(args(1), "ngram_hashes"))
      }),
    (FunctionIdentifier("text_features"),
      new ExpressionInfo(classOf[TextFeatures].getName, "text_features"),
      { args: Seq[Expression] =>
        require(args.length == 1, "text_features takes exactly 1 argument")
        TextFeatures(args.head)
      }),
    (FunctionIdentifier("word_gram_hashes"),
      new ExpressionInfo(classOf[WordGramHashes].getName,
        "word_gram_hashes"),
      { args: Seq[Expression] =>
        require(args.length == 2,
          "word_gram_hashes takes (text, n literal)")
        WordGramHashes(args.head, foldableInt(args(1), "word_gram_hashes"))
      }),
    (FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNgrams].getName, "word_ngrams"),
      { args: Seq[Expression] =>
        require(args.length == 2, "word_ngrams takes (text, n literal)")
        WordNgrams(args.head, foldableInt(args(1), "word_ngrams"))
      }),
    (FunctionIdentifier("top_item_share"),
      new ExpressionInfo(classOf[TopItemShare].getName, "top_item_share"),
      { args: Seq[Expression] =>
        require(args.length == 1, "top_item_share takes exactly 1 argument")
        TopItemShare(args.head)
      }),
    (FunctionIdentifier("simhash_bits"),
      new ExpressionInfo(classOf[SimHashBits].getName, "simhash_bits"),
      { args: Seq[Expression] =>
        require(args.length == 2, "simhash_bits takes (hashes, bits literal)")
        SimHashBits(args.head, foldableInt(args(1), "simhash_bits"))
      }),
    (FunctionIdentifier("hyperplane_buckets"),
      new ExpressionInfo(classOf[HyperplaneBuckets].getName,
        "hyperplane_buckets"),
      { args: Seq[Expression] =>
        require(args.length == 4,
          "hyperplane_buckets takes (vec, planes, tables, dim literals)")
        HyperplaneBuckets(args.head,
          foldableInt(args(1), "hyperplane_buckets"),
          foldableInt(args(2), "hyperplane_buckets"),
          foldableInt(args(3), "hyperplane_buckets"))
      }),
    (FunctionIdentifier("lang_id"),
      new ExpressionInfo(classOf[LangId].getName, "lang_id"),
      { args: Seq[Expression] =>
        require(args.length == 1, "lang_id takes exactly 1 argument")
        LangId(args.head)
      }),
    (FunctionIdentifier("compress_ratio"),
      new ExpressionInfo(classOf[CompressRatio].getName, "compress_ratio"),
      { args: Seq[Expression] =>
        require(args.length == 1, "compress_ratio takes exactly 1 argument")
        CompressRatio(args.head)
      }),
    (FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName,
        "bloom_might_contain"),
      { args: Seq[Expression] =>
        require(args.length == 2,
          "bloom_might_contain takes (bloom binary literal, long value)")
        BloomFilterMightContain(args.head, args(1))
      }),
    (FunctionIdentifier("bounded_topk"),
      new ExpressionInfo(classOf[BoundedTopK].getName, "bounded_topk"),
      { args: Seq[Expression] =>
        require(args.length == 3,
          "bounded_topk takes (struct, k literal, sortSpec literal)")
        BoundedTopK(args.head, foldableInt(args(1), "bounded_topk"),
          foldableString(args(2), "bounded_topk"))
      }),
    (FunctionIdentifier("bloom_or_agg"),
      new ExpressionInfo(classOf[BloomOrAgg].getName, "bloom_or_agg"),
      { args: Seq[Expression] =>
        require(args.length == 4,
          "bloom_or_agg takes (hash, words, bitsPerWord, k literals)")
        BloomOrAgg(args.head, foldableInt(args(1), "bloom_or_agg"),
          foldableInt(args(2), "bloom_or_agg"),
          foldableInt(args(3), "bloom_or_agg"))
      }),
    (FunctionIdentifier("vector_gram"),
      new ExpressionInfo(classOf[VectorGram].getName, "vector_gram"),
      { args: Seq[Expression] =>
        require(args.length == 2,
          "vector_gram takes (array<double> vector, dim literal)")
        VectorGram(args.head, foldableInt(args(1), "vector_gram"))
      }),
    (FunctionIdentifier("json_long"),
      new ExpressionInfo(classOf[JsonLongField].getName, "json_long"),
      { args: Seq[Expression] =>
        require(args.length == 2,
          "json_long takes (json string column, key literal)")
        JsonLongField(args.head, foldableString(args(1), "json_long"))
      }),
    (FunctionIdentifier("load_bytes"),
      new ExpressionInfo(classOf[LoadBytes].getName, "load_bytes"),
      { args: Seq[Expression] =>
        require(args.length == 1, "load_bytes takes exactly 1 argument")
        LoadBytes(args.head, activeHadoopConf(), lenient = false)
      }),
    (FunctionIdentifier("try_load_bytes"),
      new ExpressionInfo(classOf[LoadBytes].getName, "try_load_bytes"),
      { args: Seq[Expression] =>
        require(args.length == 1, "try_load_bytes takes exactly 1 argument")
        LoadBytes(args.head, activeHadoopConf(), lenient = true)
      }))

  /** Builders run at analysis time on the driver — capture the
    * active session's Hadoop conf for the executors. */
  private def activeHadoopConf(): SerializableHadoopConf =
    new SerializableHadoopConf(
      SparkSession.active.sparkContext.hadoopConfiguration)

  /** Extract an integer from a foldable literal argument. */
  private def foldableInt(e: Expression, fn: String): Int = {
    require(e.foldable, s"$fn count argument must be a literal")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"$fn count argument must be an integer literal, got $other")
    }
  }

  /** Extract a string from a foldable literal argument. */
  private def foldableString(e: Expression, fn: String): String = {
    require(e.foldable, s"$fn spec argument must be a literal")
    e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn spec argument must be a string literal, got $other")
    }
  }

  /** Idempotently register graft's native expressions AND the
    * HOF-dot-product optimizer rewrite on a session (for sessions
    * not launched with the extensions config). */
  def register(spark: SparkSession): Unit = {
    descriptions.foreach { case (id, info, builder) =>
      if (!spark.catalog.functionExists(id.funcName))
        spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    if (!spark.experimental.extraOptimizations.contains(RewriteHofDotProduct))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteHofDotProduct
    if (!spark.experimental.extraOptimizations.contains(HoistPayloadLoad))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ HoistPayloadLoad
  }

  /** Codegen'd cosine similarity (see
    * [[graft.functions.expressions.CosineSimilarity]]); requires
    * [[register]] on the session first. Bit-identical to
    * [[VectorFunctions.cosine]]. */
  def cosineSim(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  /** Codegen'd squared L2 distance (see
    * [[graft.functions.expressions.L2DistanceSq]]); bit-identical to
    * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0d, _+_)`;
    * requires [[register]] on the session first. */
  def l2DistSq(a: Column, b: Column): Column =
    call_function("l2_dist_sq", a, b)

  /** Codegen'd 1-bit quantizer (see
    * [[graft.functions.expressions.BitPack]]): packs a ≤64-dim
    * `array<double>` against per-dim thresholds into one long — the
    * binary-ANN encode; pair with `bit_count(a ^ b)` for Hamming
    * distance. Requires [[register]] on the session first. */
  def bitPack(vector: Column, thresholds: Column): Column =
    call_function("bit_pack", vector, thresholds)

  /** Fused PQ encoder (see
    * [[graft.functions.expressions.PqCodes]]); bit-identical to the
    * composable segs/argmin formulation on well-formed vectors;
    * requires [[register]] on the session first. */
  def pqCodes(vector: Column, codebook: Column, subDim: Int): Column =
    call_function("pq_codes", vector, codebook,
      org.apache.spark.sql.functions.lit(subDim))

  /** Fused ADC lookup-table walk (see
    * [[graft.functions.expressions.AdcDistance]]); returns the raw
    * sum — callers apply the r6 rounding; requires [[register]]. */
  def adcDist(lut: Column, codes: Column): Column =
    call_function("adc_dist", lut, codes)

  /** Fused MinHash signature over a shingle array (see
    * [[graft.functions.expressions.MinhashSignature]]); bit-identical
    * to [[TextFunctions.minhashSignature]]'s composable formula. */
  def minhashSig(shingles: Column, numHashes: Int): Column =
    call_function("minhash_sig", shingles,
      org.apache.spark.sql.functions.lit(numHashes))

  /** Fused normalize→tokenize→k-shingle (see
    * [[graft.functions.expressions.WordShingles]]); bit-identical to
    * [[TextFunctions.shingles]]. */
  def wordShingles(text: Column, k: Int): Column =
    call_function("word_shingles", text,
      org.apache.spark.sql.functions.lit(k))

  /** Fused normalize→distinct-char-n-grams (see
    * [[graft.functions.expressions.CharNgrams]]); bit-identical to
    * [[TextFunctions.charNgrams]]. */
  def charNgramsNative(text: Column, n: Int): Column =
    call_function("char_ngrams", text,
      org.apache.spark.sql.functions.lit(n))

  /** Hash-set Jaccard similarity (see
    * [[graft.functions.expressions.JaccardSim]]); bit-identical to
    * [[TextFunctions.jaccard]]. */
  def jaccardSim(a: Column, b: Column): Column =
    call_function("jaccard_sim", a, b)

  /** Fused normalize→distinct-n-gram 60-bit hashes (see
    * [[graft.functions.expressions.NgramHashes]]); same set as
    * `shingleHashes(charNgrams(text, n))`. */
  def ngramHashes(text: Column, n: Int): Column =
    call_function("ngram_hashes", text,
      org.apache.spark.sql.functions.lit(n))

  /** One-pass native text featurizer (see
    * [[graft.functions.expressions.TextFeatures]]): struct of
    * (ntok, nsubw, meanlen, punct, upper_r, stop_r), each
    * bit-identical to its composable [[TextFunctions]] form. Feed the
    * struct to [[TextFunctions.qualityScoreFromFeatures]] /
    * [[TextFunctions.modelScoreFromFeatures]]. */
  def textFeatures(text: Column): Column =
    call_function("text_features", text)

  /** Fused lowercase→tokenize→positional-word-n-gram 60-bit hashes
    * (see [[graft.functions.expressions.WordGramHashes]]);
    * bit-identical to
    * `TextFunctions.shingleHashes(TextFunctions.wordNgrams(text, n))`
    * with array index = gram start position. */
  def wordGramHashes(text: Column, n: Int): Column =
    call_function("word_gram_hashes", text,
      org.apache.spark.sql.functions.lit(n))

  /** Fused lowercase→tokenize→positional-word-n-grams (see
    * [[graft.functions.expressions.WordNgrams]]); bit-identical to
    * [[TextFunctions.wordNgrams]], element order included. */
  def wordNgramsNative(text: Column, n: Int): Column =
    call_function("word_ngrams", text,
      org.apache.spark.sql.functions.lit(n))

  /** One hash-count pass for the most frequent element's occurrence
    * share (see [[graft.functions.expressions.TopItemShare]]);
    * bit-identical to [[TextFunctions.topItemShare]]. */
  def topItemShareNative(items: Column): Column =
    call_function("top_item_share", items)

  /** Codegen'd SimHash at any width ≤ 63 (see
    * [[graft.functions.expressions.SimHashBits]]); bit-identical to
    * [[TextFunctions.simhashOfHashes]] at the same width. */
  def simhashBits(hashes: Column, bits: Int): Column =
    call_function("simhash_bits", hashes,
      org.apache.spark.sql.functions.lit(bits))

  /** Multi-table sign-LSH bucket keys in one fused loop (see
    * [[graft.functions.expressions.HyperplaneBuckets]]);
    * bit-identical to the composable
    * [[VectorFunctions.hyperplaneBucket]] per table. */
  def hyperplaneBuckets(vec: Column, planes: Int, tables: Int,
      dim: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("hyperplane_buckets", vec, lit(planes), lit(tables),
      lit(dim))
  }

  /** One-pass native language ID (see
    * [[graft.functions.expressions.LangId]]); bit-identical to the
    * composable [[TextFunctions.langId]] fold. */
  def langIdNative(text: Column): Column =
    call_function("lang_id", text)

  /** Deterministic deflate compression ratio (see
    * [[graft.functions.expressions.CompressRatio]]); spec-verified —
    * no SQL engine mirrors zlib, so it is not oracle-checked. */
  def compressRatio(text: Column): Column =
    call_function("compress_ratio", text)

  /** Native top-level integer-field JSON extraction (see
    * [[graft.functions.expressions.JsonLongField]]): the
    * `get_json_object(j, '$.key').cast("long")` hot path as a direct
    * byte scan — measured ~80% of q_als_step's cost was the Jackson
    * parse. Integer-number fields only; float/string/bool/missing →
    * null. Requires [[register]]. */
  def jsonLong(json: Column, key: String): Column =
    call_function("json_long", json,
      org.apache.spark.sql.functions.lit(key))

  /** Declarative payload read (see
    * [[graft.functions.expressions.LoadBytes]]); IO failure fails the
    * task. [[graft.plans.HoistPayloadLoad]] re-plans it above
    * joins/filters/limits so bytes never ride a shuffle. */
  def loadBytes(path: Column): Column =
    call_function("load_bytes", path)

  /** [[loadBytes]] with null-on-IO-failure — the reference's
    * drop-on-error discipline; follow with a null filter. */
  def tryLoadBytes(path: Column): Column =
    call_function("try_load_bytes", path)

  /** Exact per-group top-k aggregate (see
    * [[graft.functions.expressions.BoundedTopK]]): bounded
    * per-partition heaps + map-side combine, so the exchange carries
    * at most partitions·groups·k rows instead of the full input —
    * the scale-path replacement for a corpus-sized
    * `row_number() OVER (PARTITION BY …)` window. Prefer
    * [[graft.operators.GroupTopK]] for the DataFrame-level form;
    * requires [[register]]. */
  def boundedTopK(fields: Column, k: Int, sortSpec: String): Column =
    call_function("bounded_topk", fields,
      org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(sortSpec))

  /** Bloom-filter build aggregate (see
    * [[graft.functions.expressions.BloomOrAgg]]): folds a pre-hashed
    * non-negative key column into `words` 62-bit bloom words by
    * double hashing; map-side combine ships one long[] per group per
    * partition. Requires [[register]]. */
  def bloomOrAgg(hash: Column, words: Int, bitsPerWord: Int,
      k: Int): Column = {
    import org.apache.spark.sql.functions.lit
    call_function("bloom_or_agg", hash, lit(words), lit(bitsPerWord), lit(k))
  }

  /** One-pass Gram / second-moment aggregate (see
    * [[graft.functions.expressions.VectorGram]]): O(d²) state per
    * partition regardless of corpus size — struct
    * `(n, sums[d], prods[d·d])` with `prods` the full row-major
    * second-moment matrix. Requires [[register]]. */
  def vectorGram(vector: Column, dim: Int): Column =
    call_function("vector_gram", vector,
      org.apache.spark.sql.functions.lit(dim))

  /** Map-side membership probe against a serialized
    * `org.apache.spark.util.sketch.BloomFilter` — Spark's own
    * codegen'd `BloomFilterMightContain` (the engine's runtime-filter
    * expression), exposed for explicit sketch-prefilter plans. The
    * filter bytes ride the plan as a literal, so every task probes
    * locally; no shuffle, no broadcast join. May return false
    * positives, never false negatives — always follow with an exact
    * verify when exactness is required. */
  def bloomMightContain(bloomBytes: Array[Byte], value: Column): Column =
    call_function("bloom_might_contain",
      org.apache.spark.sql.functions.lit(bloomBytes), value)
}
