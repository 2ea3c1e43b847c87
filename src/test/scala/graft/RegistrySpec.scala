package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry's shared plant-id collision guard. */
class RegistrySpec extends AnyFunSuite {
  private val spark = TestSession.spark

  test("requireIdsBelow: an empty source passes; max id = offset fails naming the entry and offset") {
    Registry.requireIdsBelow(spark.range(0).toDF("doc_id"), "doc_id", 100L, "b282")
    Registry.requireIdsBelow(spark.range(100).toDF("doc_id"), "doc_id", 100L, "b282")
    val e = intercept[IllegalArgumentException](
      Registry.requireIdsBelow(spark.range(101).toDF("doc_id"), "doc_id", 100L, "b282"))
    assert(e.getMessage.contains("b282: max(doc_id)=100"), e.getMessage)
    assert(e.getMessage.contains("offset 100"), e.getMessage)
  }
}
