package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

/** The engine's native SQL functions: one table of (name, builder) for
  * every session-independent codegen expression, and the two ways a
  * session gets them — [[graft.GraftExtensions]] injects the table when a
  * session is built with the extension, and [[install]] adds it to any
  * other session. [[graft.Registry]] entries call [[install]] before they
  * build their query, so every entry runs in any session.
  *
  * Only pure builders belong here: each closes over nothing but the
  * call's children. Data-dependent registrations (ScaleOps's
  * `bloom_might_contain`, whose builder closes over freshly built filter
  * bytes) call `createOrReplaceTempFunction` themselves.
  */
object Natives {
  val table: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "feature_id" -> unary("feature_id")(FeatureIdExpression(_)),
    "dot_f64" -> DotProductExpression.build _,
    "sign_lsh_bands" -> SignLshBandsExpression.build _,
    "z_order2" -> ZOrderExpression.build _,
    "trigram_hashes" -> TrigramHashExpression.build _,
    "minhash_sigs" -> MinHashSigExpression.build _,
    "shingle_hashes" -> ShingleHashesExpression.build _,
    "lsh_bands" -> LshBandsExpression.build _,
    "poly_fold" -> PolyFoldExpression.build _,
    "quality_score" -> QualityScoreExpression.build _,
    "repetition_stats" -> RepetitionStatsExpression.build _,
    "random_project" -> RandomProjectExpression.build _,
    "bpe_encode" -> BpeEncodeExpression.build _,
    "bpe_decode" -> BpeDecodeExpression.build _,
    "unigram_encode" -> UnigramEncodeExpression.build _,
    "wordpiece_encode" -> WordPieceEncodeExpression.build _,
    "bpe_encode_bf" -> unary("bpe_encode_bf")(BpeEncodeBytesExpression(_)),
    "bpe_decode_bf" -> unary("bpe_decode_bf")(BpeDecodeBytesExpression(_)),
    "unigram_encode_bf" -> unary("unigram_encode_bf")(UnigramEncodeBytesExpression(_)),
    "unigram_decode_bf" -> unary("unigram_decode_bf")(UnigramDecodeBytesExpression(_)),
    "encode_postings" -> unary("encode_postings")(EncodePostingsExpression(_)),
    "decode_postings" -> unary("decode_postings")(DecodePostingsExpression(_)),
    "dot_i64" -> binary("dot_i64")(DotI64Expression(_, _)),
    "sqdist_i64" -> binary("sqdist_i64")(SqDistI64Expression(_, _)))

  /** Registers every table name the session's function registry lacks.
    * Registering only absent names keeps repeated calls free of
    * SimpleFunctionRegistry's "replaced a previously registered function"
    * WARN, which once flooded the Bench output the driver records. */
  def install(s: SparkSession): Unit = {
    val reg = s.sessionState.functionRegistry
    for ((name, builder) <- table if !reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, builder, "built-in")
  }

  private def arity(name: String, expected: Int, children: Seq[Expression]): Unit =
    if (children.size != expected)
      throw new AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name, "expectedNum" -> expected.toString,
          "actualNum" -> children.size.toString, "docroot" -> "NA"))

  private def unary(name: String)(mk: Expression => Expression)
      : Seq[Expression] => Expression = { children =>
    arity(name, 1, children); mk(children.head)
  }

  private def binary(name: String)(mk: (Expression, Expression) => Expression)
      : Seq[Expression] => Expression = { children =>
    arity(name, 2, children); mk(children(0), children(1))
  }
}
