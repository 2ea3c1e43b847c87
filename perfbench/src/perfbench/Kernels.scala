package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Native-kernel layer: ns per row of each codegen expression, measured
  * as a `noop` select of the kernel over cached rows minus a bare `noop`
  * select of its input columns over the same rows (median of [[Reps]]).
  * Text kernels run over `documents` repeated [[Copies]] times; the two
  * vector kernels over `embeddings` repeated to the same row count.
  */
object Kernels {
  val Copies = 8
  val Reps = 5

  /** (kernel, input: "docs" or "vecs", SQL of the call, input columns it reads). */
  private val cases: Seq[(String, String, String, Seq[String])] = Seq(
    ("feature_id", "docs", "feature_id(text)", Seq("text")),
    ("trigram_hashes", "docs", "trigram_hashes(text)", Seq("text")),
    ("shingle_hashes", "docs", "shingle_hashes(text)", Seq("text")),
    ("minhash_sigs", "docs", "minhash_sigs(words)", Seq("words")),
    ("lsh_bands", "docs", "lsh_bands(sig)", Seq("sig")),
    ("z_order2", "docs", "z_order2(doc_id, n_chars)", Seq("doc_id", "n_chars")),
    ("dot_f64", "vecs", "dot_f64(v, v)", Seq("v")),
    ("sign_lsh_bands", "vecs", "sign_lsh_bands(f)", Seq("f")),
    ("bpe_encode", "docs", "bpe_encode(text)", Seq("text")),
    ("unigram_encode", "docs", "unigram_encode(text)", Seq("text")))

  val names: Seq[String] = cases.map(_._1)

  private def register(spark: SparkSession): Unit = {
    import graft.functions._
    FeatureIdExpression.register(spark); TrigramHashExpression.register(spark)
    ShingleHashesExpression.register(spark); MinHashSigExpression.register(spark)
    LshBandsExpression.register(spark); ZOrderExpression.register(spark)
    DotProductExpression.register(spark); SignLshBandsExpression.register(spark)
    BpeEncodeExpression.register(spark); UnigramEncodeExpression.register(spark)
  }

  private def noopS(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def measure(spark: SparkSession, dataDir: String): Map[String, Double] = {
    register(spark)
    val copies = spark.range(Copies).toDF("copy")
    val docs = spark.read.parquet(s"$dataDir/documents.parquet").crossJoin(copies)
      .select(col("doc_id"), col("n_chars"), col("text"), split(col("text"), " ").as("words"))
      .withColumn("sig", expr("minhash_sigs(words)"))
      .cache()
    val nDocs = docs.count()
    val vecs0 = spark.read.parquet(s"$dataDir/embeddings.parquet")
    val vecCopies = math.max(1L, nDocs / vecs0.count())
    val vecs = vecs0.crossJoin(spark.range(vecCopies).toDF("copy"))
      .select(col("embedding").as("f"), col("embedding").cast("array<double>").as("v"))
      .cache()
    val nVecs = vecs.count()
    try cases.map { case (name, input, call, inputs) =>
      val (df, rows) = if (input == "docs") (docs, nDocs) else (vecs, nVecs)
      val bare = df.select(inputs.map(col): _*)
      val kern = df.select(expr(call).as("k"))
      noopS(bare); noopS(kern) // compile both plans before timing
      val diffs = (1 to Reps).map(_ => noopS(kern) - noopS(bare))
      name -> median(diffs) * 1e9 / rows
    }.toMap
    finally { docs.unpersist(); vecs.unpersist() }
  }
}
