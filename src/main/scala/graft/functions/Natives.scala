package graft.functions

import java.lang.invoke.MethodType
import java.lang.reflect.{Method, Modifier}

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.types._

/** A static kernel method of a kernel object for one list of input
  * types. The kernel object loads, and the method is looked up (its
  * parameters must be the inputs' Java classes), when a call first needs
  * it, so installing the table loads no kernel. */
final class Kernel(module: => AnyRef, methodName: String, val inputs: Seq[DataType]) {
  /** The class whose static forwarder generated code calls. */
  lazy val owner: String = module.getClass.getName.stripSuffix("$")
  lazy val method: Method = {
    val m = Class.forName(owner, true, module.getClass.getClassLoader)
      .getMethod(methodName, inputs.map(CodeGenerator.javaClass): _*)
    require(Modifier.isStatic(m.getModifiers), s"$owner.$methodName is not static")
    m
  }

  /** Same types, an array's element nullability aside. */
  def accepts(types: Seq[DataType]): Boolean = types.size == inputs.size &&
    inputs.zip(types).forall {
      case (ArrayType(want, _), ArrayType(got, _)) => want == got
      case (want, got) => want == got
    }
}

/** One row of [[Natives.rows]]: the SQL name, the result type, whether a
  * kernel can return null (the call is also null when any input is), and
  * the kernels the input types choose from. A kernel returns the result
  * type's Java class, boxed when the result is a primitive that can be
  * null; [[kernelFor]] checks that before it hands a kernel out. */
final class Native(val name: String, val dataType: DataType, val nullResult: Boolean,
    val kernels: Seq[Kernel]) {
  require(kernels.map(_.inputs.size).distinct.size == 1, s"$name: kernels differ in arity")

  private lazy val returns: Class[_] = {
    val c = CodeGenerator.javaClass(dataType)
    if (nullResult) MethodType.methodType(c).wrap().returnType() else c
  }

  def kernelFor(types: Seq[DataType]): Option[Kernel] = kernels.find(_.accepts(types)).map { k =>
    require(k.method.getReturnType == returns,
      s"$name: ${k.owner}.${k.method.getName} must return ${returns.getName}")
    k
  }
}

/** The engine's native SQL functions: one table of (name, builder), and
  * the two ways a session gets it — [[graft.GraftExtensions]] injects the
  * table when a session is built with the extension, and [[install]] adds
  * it to any other session. [[graft.Registry]] entries call [[install]]
  * before they build their query, so every entry runs in any session.
  *
  * A new native is one row of [[rows]] plus one static kernel method on
  * its kernel object: [[NativeExpression]] derives the type check,
  * nullability, interpreted eval and generated code from the row. Only
  * the two WildWeb JSON kernels keep an expression class of their own
  * (`wildweb_envelope` falls back to Spark's `from_json`, `json_bytes`
  * builds a writer for its input's schema), and [[arity]] checks their
  * calls too.
  *
  * Only pure builders belong here: each closes over nothing but the
  * call's children. Data-dependent registrations (ScaleOps's
  * `bloom_might_contain`, whose builder closes over freshly built filter
  * bytes) call `createOrReplaceTempFunction` themselves.
  */
object Natives {
  private val longs = ArrayType(LongType, containsNull = false)
  private val f64s = ArrayType(DoubleType)
  private val i64s = ArrayType(LongType)

  private def native(name: String, dataType: DataType, nullResult: Boolean = false)(
      kernels: Kernel*): Native = new Native(name, dataType, nullResult, kernels)
  private def kernel(module: => AnyRef, method: String, inputs: DataType*): Kernel =
    new Kernel(module, method, inputs)

  val rows: Seq[Native] = Seq(
    native("feature_id", StringType)(kernel(FeatureIdExpression, "id", StringType)),
    native("dot_f64", DoubleType, nullResult = true)(
      kernel(DotProductExpression, "dot", f64s, f64s)),
    native("sign_lsh_bands", longs, nullResult = true)(
      kernel(SignLshBandsExpression, "bandsOfFloats", ArrayType(FloatType)),
      kernel(SignLshBandsExpression, "bandsOfDoubles", f64s)),
    native("z_order2", LongType)(kernel(ZOrderExpression, "interleave", LongType, LongType)),
    native("trigram_hashes", ArrayType(IntegerType, containsNull = false))(
      kernel(TrigramHashExpression, "hashes", StringType)),
    native("minhash_sigs", longs, nullResult = true)(
      kernel(MinHashSigExpression, "sigs", ArrayType(StringType)),
      kernel(MinHashSigExpression, "sigsFromHashes", i64s)),
    native("shingle_hashes", longs)(kernel(ShingleHashesExpression, "hashes", StringType)),
    native("lsh_bands", longs)(kernel(LshBandsExpression, "bands", i64s)),
    native("poly_fold", LongType)(kernel(PolyFoldExpression, "fold", StringType)),
    native("quality_score", LongType)(kernel(QualityScoreExpression, "score", StringType)),
    native("repetition_stats", longs)(kernel(RepetitionStatsExpression, "stats", StringType)),
    native("random_project", longs)(
      kernel(RandomProjectExpression, "project", ArrayType(FloatType))),
    native("bpe_encode", StringType)(kernel(BpeEncodeExpression, "encode", StringType)),
    native("bpe_decode", StringType)(kernel(BpeEncodeExpression, "decode", StringType)),
    native("unigram_encode", StringType)(kernel(UnigramEncodeExpression, "encode", StringType)),
    native("wordpiece_encode", StringType)(
      kernel(WordPieceEncodeExpression, "encode", StringType)),
    native("bpe_encode_bf", StringType)(kernel(BpeEncodeExpression, "encodeBf", StringType)),
    native("bpe_decode_bf", StringType)(kernel(BpeEncodeExpression, "decodeBf", StringType)),
    native("unigram_encode_bf", StringType)(
      kernel(UnigramEncodeExpression, "encodeBf", StringType)),
    native("unigram_decode_bf", StringType)(
      kernel(UnigramEncodeExpression, "decodeBf", StringType)),
    native("encode_postings", BinaryType)(kernel(PostingCodec, "encode", i64s)),
    native("decode_postings", longs)(kernel(PostingCodec, "decode", BinaryType)),
    native("dot_i64", LongType, nullResult = true)(kernel(LongVecKernels, "dot", i64s, i64s)),
    native("sqdist_i64", LongType, nullResult = true)(
      kernel(LongVecKernels, "sqdist", i64s, i64s)))

  val byName: Map[String, Native] = rows.map(r => r.name -> r).toMap

  val table: Seq[(String, Seq[Expression] => Expression)] = rows.map { r =>
    r.name -> arity(r.name, r.kernels.head.inputs.size)(NativeExpression(r.name, _))
  } ++ Seq(
    "wildweb_envelope" -> arity("wildweb_envelope", 1)(c => WildWebEnvelopeExpression(c.head)),
    "json_bytes" -> arity("json_bytes", 1)(c => JsonBytesExpression(c.head)))

  /** Registers every table name the session's function registry lacks.
    * Registering only absent names keeps repeated calls free of
    * SimpleFunctionRegistry's "replaced a previously registered function"
    * WARN, which once flooded the Bench output the driver records. */
  def install(s: SparkSession): Unit = {
    val reg = s.sessionState.functionRegistry
    for ((name, builder) <- table if !reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, builder, "built-in")
  }

  /** The one arity check: `mk` behind it sees exactly `expected`
    * children, and any other count is an analysis error, not a dropped
    * argument or an index error. */
  private def arity(name: String, expected: Int)(mk: Seq[Expression] => Expression)
      : Seq[Expression] => Expression = { children =>
    if (children.size != expected)
      throw new AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> name, "expectedNum" -> expected.toString,
          "actualNum" -> children.size.toString, "docroot" -> "NA"))
    mk(children)
  }
}
