package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions.call_function

/** Registration + Column-level API for graft's native Catalyst expressions.
  *
  * Two registration paths:
  *  - [[GraftExtensions]] via `SparkSession.builder().withExtensions` (the
  *    production path — survives into every derived session);
  *  - [[Functions.ensure]] for sessions we didn't build (the driver hands us
  *    its own `SparkSession` in `SparkEntry.queries`): idempotently registers
  *    into the session's function registry.
  */
object Functions {

  private val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cassandra_token" -> (es =>
      if (es.length == 1) CassandraToken(es.head) else CassandraTokenComposite(es)),
    "murmur64"        -> (es => Murmur64(es(0), es(1))),
    "cosine_sim"      -> (es => CosineSimilarity(es(0), es(1))),
    "dot_product"     -> (es => DotProduct(es(0), es(1))),
    "lsh_code"        -> (es => LshCode(es(0), es(1), es(2))),
    "minhash_agg"     -> (es => MinHashAgg(es(0), es(1),
      es(2).eval().asInstanceOf[Int])),
    "minhash_sig"     -> (es => MinHashSig(es(0), es(1).eval().asInstanceOf[Int])),
    "simhash_agg"     -> (es => SimHashAgg(es(0))),
    "simhash_sig"     -> (es => SimHashSig(es(0))),
    "freq_items_agg"  -> (es => FreqItemsAgg(es(0),
      es(1).eval().asInstanceOf[Int])),
    // topk_rows_agg(struct, k, sort_ordinals, desc_flags) — constant args
    // evaluated at build time (array literals)
    "topk_rows_agg"   -> (es => TopKRowsAgg(es(0),
      es(2).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toIntArray.toIndexedSeq,
      es(3).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toBooleanArray.toIndexedSeq,
      es(1).eval().asInstanceOf[Int])),
    // winnow_fps(tokens, w, s) — constant w/s evaluated at build time
    "winnow_fps"      -> (es => WinnowFps(es(0),
      es(1).eval().asInstanceOf[Int], es(2).eval().asInstanceOf[Int])),
    "deflate_len"     -> (es => DeflateLen(es.head)),
    // bpe_encode(text, lefts, rights) — merge table as two aligned
    // constant string arrays, evaluated at build time
    "bpe_encode"      -> (es => BpeEncode(es(0), constStrings(es(1)), constStrings(es(2)))),
    "bpe_decode"      -> (es => BpeDecode(es.head)),
    "bpe_encode_ids"  -> (es => BpeEncodeIds(es(0), constStrings(es(1)),
      constStrings(es(2)), constStrings(es(3)))),
    // unigram_encode(text, pieces, log_probs) — trained piece table as
    // aligned constant arrays, evaluated at build time
    "unigram_encode"  -> (es => UnigramEncode(es(0), constStrings(es(1)),
      constDoubles(es(2)))),
    "unigram_encode_ids" -> (es => UnigramEncodeIds(es(0), constStrings(es(1)),
      constDoubles(es(2)))),
    // wordpiece_encode(text, vocab) — trained vocabulary as one constant
    // string array (position = id), evaluated at build time
    "wordpiece_encode" -> (es => WordpieceEncode(es(0), constStrings(es(1)))),
    "wordpiece_encode_ids" -> (es => WordpieceEncodeIds(es(0), constStrings(es(1)))),
    // PCA tier: one-pass fixed-point moment aggregate + the projection
    // kernel (trained model as constant arrays, evaluated at build time)
    "gram_matrix_agg" -> (es => GramMatrixAgg(es(0), constInt(es(1)))),
    "pca_project" -> (es => PcaProject(es(0), constDoubles(es(1)),
      constDoubles(es(2)), constInt(es(3)))),
    // guard BEFORE splitting off the trailing bits literal: a 0/1-arg
    // call would otherwise throw a raw NoSuchElementException or build a
    // 0-dimension ZValueN whose "got 0 dimensions" message hides that
    // the lone argument was consumed as bits
    "z_value"         -> (es => {
      if (es.length < 3)
        throw new IllegalArgumentException(
          "z_value(c1, ..., cN, bits) needs at least two dimension " +
            s"columns plus the bits literal, got ${es.length} argument(s)")
      ZValueN(es.init, constInt(es.last))
    }),
    "byte_remap"      -> (es => ByteRemap(es.head)),
    "byte_unmap"      -> (es => ByteUnmap(es.head)),
    "bpe_encode_bytes" -> (es => BpeEncodeBytes(es(0), constStrings(es(1)),
      constStrings(es(2)))),
    "nfc_normalize"   -> (es => NfcNormalize(es.head)),
    // classifier hot-path kernels: hash_features(words, dim, seed) and
    // fp_margin_sum(features, weightsFp) — constants evaluated at build time
    "hash_features"   -> (es => HashFeatures(es(0), constInt(es(1)),
      es(2).eval().asInstanceOf[Long])),
    "fp_margin_sum"   -> (es => FpMarginSum(es(0), constLongs(es(1)))),
    // collocation pair kernel: colloc_pairs(words, window[, keptVocab])
    "colloc_pairs"    -> (es => CollocPairs(es(0), constInt(es(1)),
      if (es.length > 2) constStrings(es(2)) else Nil)),
    // fused classifier scoring kernels (tokens, flat weights, k, dim, seed)
    "fp_softmax"      -> (es => FpClassifier.FpSoftmax(es(0), constLongs(es(1)),
      constInt(es(2)), constInt(es(3)), es(4).eval().asInstanceOf[Long])),
    "fp_argmax"       -> (es => FpClassifier.FpArgmax(es(0), constLongs(es(1)),
      constInt(es(2)), constInt(es(3)), es(4).eval().asInstanceOf[Long])),
    "fp_classify"     -> (es => FpClassifier.FpClassify(es(0), constLongs(es(1)),
      constInt(es(2)), constInt(es(3)), es(4).eval().asInstanceOf[Long])),
    "fp_sigmoid"      -> (es => FpClassifier.FpSigmoid(es(0), constLongs(es(1)),
      constInt(es(2)), es(3).eval().asInstanceOf[Long])),
    "strict_exp"      -> (es => StrictExp(es.head)),
    "java_lower"      -> (es => JavaLower(es.head)),
    "min_timeuuid"    -> (es => MinTimeUuid(es.head)),
    "max_timeuuid"    -> (es => MaxTimeUuid(es.head)),
    "timeuuid_unix_millis" -> (es => TimeUuidMillis(es.head)),
    "timeuuid_sort_key" -> (es => TimeUuidSortKey(es.head)),
    // CQL integer division truncates toward zero in the operand type
    // (OperationFcts) — Catalyst's `div` has exactly those semantics
    "cql_div" -> (es => new org.apache.spark.sql.catalyst.expressions.IntegralDivide(es(0), es(1)))
  )

  private def constInt(e: Expression): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"expected a constant integer argument, got non-constant: ${e.sql}")
    e.eval() match {
      case i: Integer => i.intValue()
      case l: java.lang.Long => l.intValue()
      case other => throw new IllegalArgumentException(
        s"expected a constant integer argument, got: $other")
    }
  }

  private def constStrings(e: Expression): Seq[String] = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        "bpe_encode merge tables must be constant string arrays (foldable), " +
          s"got non-constant argument: ${e.sql}")
    val arr = e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData => a
      case other => throw new IllegalArgumentException(
        s"bpe_encode merge tables must be string arrays, got: $other")
    }
    val out = arr.toArray[org.apache.spark.unsafe.types.UTF8String](
      org.apache.spark.sql.types.StringType)
    if (out.exists(_ == null))
      throw new IllegalArgumentException(
        "bpe_encode merge tables must not contain NULL symbols")
    out.map(_.toString).toSeq
  }

  private def constLongs(e: Expression): Seq[Long] = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        "fp_margin_sum weight tables must be constant long arrays " +
          s"(foldable), got non-constant argument: ${e.sql}")
    val arr = e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData => a
      case other => throw new IllegalArgumentException(
        s"fp_margin_sum weight tables must be long arrays, got: $other")
    }
    arr.toLongArray().toSeq
  }

  private def constDoubles(e: Expression): Seq[Double] = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        "unigram_encode log-prob tables must be constant double arrays " +
          s"(foldable), got non-constant argument: ${e.sql}")
    val arr = e.eval() match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData => a
      case other => throw new IllegalArgumentException(
        s"unigram_encode log-prob tables must be double arrays, got: $other")
    }
    arr.toDoubleArray().toSeq
  }

  def install(e: SparkSessionExtensions): Unit =
    builders.foreach { case (name, b) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[CassandraToken].getName, name), b))
    }

  /** Idempotent in-session registration (for externally-built sessions).
    * Sessions already ensured are skipped entirely, so repeated `prep()`
    * calls don't re-replace functions (which logs a WARN per function per
    * query on the driver).
    */
  private val ensured = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  def ensure(spark: SparkSession): Unit = {
    if (!ensured.add(spark)) return
    val registry =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.functionRegistry
    builders.foreach { case (name, b) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, b, "built-in")
    }
    registerBlobConversions(spark)
  }

  /** CQL blob conversions (BytesConversionFcts.java) — cold-path utility
    * UDFs over [[BlobConversions]].
    */
  def registerBlobConversions(spark: SparkSession): Unit = {
    import BlobConversions._
    import org.apache.spark.sql.functions.udf
    spark.udf.register("int_as_blob", udf(intAsBlob _))
    spark.udf.register("bigint_as_blob", udf(bigintAsBlob _))
    spark.udf.register("double_as_blob", udf(doubleAsBlob _))
    spark.udf.register("float_as_blob", udf(floatAsBlob _))
    spark.udf.register("boolean_as_blob", udf(booleanAsBlob _))
    spark.udf.register("text_as_blob", udf(textAsBlob _))
    spark.udf.register("blob_as_int", udf(blobAsInt _))
    spark.udf.register("blob_as_bigint", udf(blobAsBigint _))
    spark.udf.register("blob_as_double", udf(blobAsDouble _))
    spark.udf.register("blob_as_float", udf(blobAsFloat _))
    spark.udf.register("blob_as_boolean", udf(blobAsBoolean _))
    spark.udf.register("blob_as_text", udf(blobAsText _))
    spark.udf.register("smallint_as_blob", udf(smallintAsBlob _))
    spark.udf.register("tinyint_as_blob", udf(tinyintAsBlob _))
    spark.udf.register("uuid_as_blob", udf(uuidAsBlob _))
    spark.udf.register("date_as_blob", udf(dateAsBlob _))
    spark.udf.register("uuid_v4", udf(() => TimeUuid.randomUuid()).asNondeterministic())
  }

  // Column-level helpers (work in any session where the fns are registered).
  def cassandra_token(c: Column): Column = call_function("cassandra_token", c)
  def deflate_len(c: Column): Column = call_function("deflate_len", c)
  def nfc_normalize(c: Column): Column = call_function("nfc_normalize", c)
  def murmur64(c: Column, seed: Column): Column = call_function("murmur64", c, seed)
  def cosine_sim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def dot_product(a: Column, b: Column): Column = call_function("dot_product", a, b)
  def lsh_code(e: Column, bits: Column, seed: Column): Column =
    call_function("lsh_code", e, bits, seed)
  def min_timeuuid(ms: Column): Column = call_function("min_timeuuid", ms)
  def max_timeuuid(ms: Column): Column = call_function("max_timeuuid", ms)
  def timeuuid_unix_millis(u: Column): Column = call_function("timeuuid_unix_millis", u)
  def timeuuid_sort_key(u: Column): Column = call_function("timeuuid_sort_key", u)
  def bpe_encode(text: Column, lefts: Column, rights: Column): Column =
    call_function("bpe_encode", text, lefts, rights)
  def strict_exp(x: Column): Column = call_function("strict_exp", x)
  def java_lower(text: Column): Column = call_function("java_lower", text)
}

/** `SparkSessionExtensions` hook: functions and the [[BindParams]] rules. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    Functions.install(e)
    BindParams.install(e)
  }
}
