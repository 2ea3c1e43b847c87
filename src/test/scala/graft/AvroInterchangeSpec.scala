package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.operators.AvroInterchange

/** B173 Avro interchange: value-exact round-trip incl. nulls and
  * multi-partition writes, plus the supported-type contract. */
class AvroInterchangeSpec extends AnyFunSuite {
  private val spark = TestSession.spark

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("size", IntegerType, nullable = true),
    StructField("price", DoubleType, nullable = true)))

  test("B173: nulls and all four primitive families round-trip exactly, multi-partition") {
    val rows = Seq(
      Row(1L, "alpha", 10, 1.5),
      Row(2L, null, null, null),
      Row(3L, "gämmä ünïcode", -7, 0.0),
      Row(4L, "", 0, -2.25),
      Row(5L, "delta", Int.MaxValue, Double.MinPositiveValue))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    val out = TestDirs("avro_spec").toString + "/rt"
    AvroInterchange.writeAvro(df, out)
    val back = AvroInterchange.readAvro(spark, out, schema)
      .collect().sortBy(_.getLong(0))
    assert(back.toSeq === rows.sortBy(_.getLong(0)))
  }

  test("B173: unsupported column types are rejected loudly, not coerced") {
    val bad = StructType(Seq(StructField("ts", TimestampType)))
    val e = intercept[IllegalArgumentException] {
      AvroInterchange.avroSchemaJson(bad, "r")
    }
    assert(e.getMessage.contains("avro interchange supports"))
  }
}
