package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Natives

/** Every native of the table, interpreted and generated: one fixed frame
  * run once with `factoryMode=NO_CODEGEN` and whole-stage codegen off
  * (every projection evaluates through `eval`) and once with
  * `CODEGEN_ONLY` (every projection is generated code) must give the
  * same rows and the same schema. The frame comes from an RDD, so no
  * call constant-folds before it reaches either path. */
class NativeModesSpec extends AnyFunSuite {

  private val body = Files.list(Paths.get("fixtures/wildweb/run_ok")).iterator.asScala
    .toSeq.sortBy(_.toString).map(p => Files.readString(p)).head

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("s", StringType),
    StructField("da", ArrayType(DoubleType)),
    StructField("db", ArrayType(DoubleType)),
    StructField("la", ArrayType(LongType)),
    StructField("lb", ArrayType(LongType)),
    StructField("fa", ArrayType(FloatType)),
    StructField("words", ArrayType(StringType)),
    StructField("postings", ArrayType(LongType)),
    StructField("x", LongType),
    StructField("y", LongType)))

  private val rows = Seq(
    Row(0L, "the quick brown fox jumps over the lazy dog the quick brown fox",
      Seq(1.5, -2.25, 3.125, 0.1), Seq(4.0, 0.5, -1.75, 0.3),
      Seq(1L, -2L, 3L), Seq(4L, 5L, -6L),
      Seq(0.25f, -0.5f, 0.75f, 1.0f), Seq("a b c", "b c d", "c d e"),
      Seq(1L, 5L, 200L, 100000L), 3L, 5L),
    // a null element; mismatched lengths for the long vectors
    Row(1L, "naïve café über straße déjà vu",
      Seq(1.0, null), Seq(1.0, 2.0),
      Seq(2L, 3L, 99L), Seq(10L, 10L),
      Seq(0.5f, null, 1.5f), Seq("x y z"),
      Seq(0L), -1L, 1L << 30),
    // astral code points; mismatched lengths for the double vectors, a
    // null element for the long vectors, empty arrays elsewhere
    Row(2L, "fire 🔥 emoji 𝔘 text here",
      Seq(2.0, 3.0, 99.0), Seq(10.0, 10.0),
      Seq(1L, null), Seq(1L, 2L),
      Seq.empty[Float], Seq.empty[String],
      Seq.empty[Long], 0L, null),
    Row(3L, "", Seq.empty[Double], Seq.empty[Double], Seq.empty[Long], Seq.empty[Long],
      Seq(0.0f), Seq(""), Seq(7L), null, 7L),
    Row(4L, null, null, Seq(1.0), null, Seq(1L), null, null, null, null, null),
    Row(5L, body, Seq(1.0), null, Seq(1L), null, Seq(-1.0f, -2.0f), Seq("ab"), Seq(3L, 4L),
      Long.MaxValue, Long.MinValue))

  /** One call per table native; every name of the table appears. */
  private val calls: Seq[String] = Seq(
    "feature_id(s)", "dot_f64(da, db)", "sign_lsh_bands(fa)",
    "sign_lsh_bands(CAST(fa AS array<double>))", "z_order2(x, y)",
    "trigram_hashes(s)", "minhash_sigs(words)", "minhash_sigs(shingle_hashes(s))",
    "shingle_hashes(s)", "lsh_bands(minhash_sigs(words))", "poly_fold(s)",
    "quality_score(s)", "repetition_stats(s)", "random_project(fa)",
    "bpe_encode(s)", "bpe_decode(bpe_encode(s))", "unigram_encode(s)",
    "wordpiece_encode(s)", "bpe_encode_bf(s)", "bpe_decode_bf(bpe_encode_bf(s))",
    "unigram_encode_bf(s)", "unigram_decode_bf(unigram_encode_bf(s))",
    "encode_postings(postings)", "decode_postings(encode_postings(postings))",
    "dot_i64(la, lb)", "sqdist_i64(la, lb)", "wildweb_envelope(s)",
    "json_bytes(named_struct('s', s, 'd', get(da, 0), 'v', db))")

  private def run(mode: String, wholeStage: Boolean): (DataFrame, Seq[Row]) = {
    val s: SparkSession = TestSession.spark.newSession()
    Natives.install(s)
    s.conf.set("spark.sql.codegen.factoryMode", mode)
    s.conf.set("spark.sql.codegen.wholeStage", wholeStage.toString)
    val frame = s.createDataFrame(s.sparkContext.parallelize(rows, 2), schema)
    val df = frame.selectExpr("id" +: calls.zipWithIndex.map { case (c, i) => s"$c AS c$i" }: _*)
    (df, df.collect().toSeq.sortBy(_.getLong(0)))
  }

  /** Binary values compare by content. */
  private def norm(v: Any): Any = v match {
    case bytes: Array[Byte] => bytes.toSeq
    case r: Row => r.toSeq.map(norm)
    case xs: Seq[_] => xs.map(norm)
    case other => other
  }

  test("the frame calls every native of the table, and every kernel resolves") {
    val called = Natives.table.map(_._1).filterNot(n => calls.exists(_.contains(s"$n(")))
    assert(called === Seq.empty)
    // a kernel's method is looked up and checked on first use: use each
    for (row <- Natives.rows; k <- row.kernels) assert(row.kernelFor(k.inputs).contains(k))
  }

  test("every native gives the same rows and nullability interpreted and generated") {
    val (interpreted, viaEval) = run("NO_CODEGEN", wholeStage = false)
    val (generated, viaCodegen) = run("CODEGEN_ONLY", wholeStage = true)
    assert(interpreted.queryExecution.executedPlan
      .collect { case w: WholeStageCodegenExec => w }.isEmpty)
    assert(generated.queryExecution.executedPlan
      .collect { case w: WholeStageCodegenExec => w }.nonEmpty)
    assert(interpreted.schema === generated.schema)
    assert(viaEval.size === rows.size)
    for ((a, b) <- viaEval.zip(viaCodegen); c <- 1 until a.length)
      assert(norm(a.get(c)) === norm(b.get(c)), s"id ${a.getLong(0)}: ${calls(c - 1)}")
  }
}
