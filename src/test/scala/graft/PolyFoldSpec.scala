package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.llm.Winnowing

/** The native poly_fold / dot_i64 / sqdist_i64 Expressions must be
  * bit-equal to the HOF SQL spellings and the JVM folds they replace —
  * including non-ASCII and supplementary-plane codepoints, where a
  * byte- or char-based fold would silently diverge. */
class PolyFoldSpec extends AnyFunSuite {
  private val spark = TestSession.spark
  import spark.implicits._

  private val samples = Seq(
    "", "a", "hello world", "dsir:the quick", "mix:12345",
    "héllo wörld", "日本語のテキスト", "emoji 😀 pair", // 😀 is supplementary
    "mixed ascii ünd 中文 🤖 end", "sem:4999")

  test("poly_fold ≡ HOF SQL fold ≡ Winnowing.polyFoldString on all planes") {
    val df = samples.toDF("s")
      .withColumn("native", expr("poly_fold(s)"))
      .withColumn("hof", expr(Winnowing.polyFoldSpark("s")))
      .collect()
    for ((r, s) <- df.zip(samples)) {
      assert(r.getLong(1) === r.getLong(2), s"native vs HOF on '$s'")
      assert(r.getLong(1) === Winnowing.polyFoldString(s), s"native vs JVM on '$s'")
    }
  }

  test("dot_i64 / sqdist_i64 ≡ HOF spellings, null on length mismatch") {
    val vecs = Seq(
      (Seq(1L, -2L, 3L), Seq(4L, 5L, -6L)),
      (Seq(-127L, 127L, 0L), Seq(127L, -127L, 1L)),
      (Seq.empty[Long], Seq.empty[Long]))
    val df = vecs.toDF("a", "b")
      .withColumn("nd", expr("dot_i64(a, b)"))
      .withColumn("hd", expr(
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (s, v) -> s + v)"))
      .withColumn("ns", expr("sqdist_i64(a, b)"))
      .withColumn("hs", expr(
        "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, (s, v) -> s + v)"))
      .collect()
    for (r <- df) {
      assert(r.getLong(2) === r.getLong(3))
      assert(r.getLong(4) === r.getLong(5))
    }
    val mismatch = Seq((Seq(1L, 2L), Seq(1L)))
      .toDF("a", "b").selectExpr("dot_i64(a, b)", "sqdist_i64(a, b)").collect()
    assert(mismatch(0).isNullAt(0) && mismatch(0).isNullAt(1))
  }
}
