package graft.operators

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.avro.mapred.AvroKey
import org.apache.avro.mapreduce.{AvroJob, AvroKeyInputFormat, AvroKeyOutputFormat}
import org.apache.hadoop.io.NullWritable
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Registry._
import graft.exec.WorkDirs
import graft.sources.Tables

/** B173 — AVRO SINK + RE-READ (VERDICT r13 what's-missing #3 / item 6):
  * the b04/b65 lossless round-trip contract through Avro container
  * files, the remaining row-major interchange format users hit with
  * Kafka estates. The environment ships Spark WITHOUT the spark-avro
  * module (`.format("avro")` would throw), but the Avro core +
  * avro-mapred Hadoop I/O jars ARE on the classpath — so the
  * implementation goes through the standard Hadoop path every
  * distributed engine predating spark-avro used: GenericRecord +
  * AvroKeyOutputFormat on write, AvroKeyInputFormat on read, schema
  * derived mechanically from the DataFrame's StructType.
  *
  * Semantics pinned: write→read is value-exact for the long / int /
  * double / string column families (Avro's own primitive types — no
  * logical-type coercion anywhere), null via the standard
  * `["null", T]` union. The oracle reads the ORIGINAL parquet (DuckDB
  * reads no Avro — the b65 argument: hashing the re-read against the
  * source is the stronger statement anyway).
  *
  * Scale posture: both directions are embarrassingly parallel Hadoop
  * I/O — one output file per partition on write (the task-commit
  * protocol handles speculative attempts), splittable container blocks
  * on read; no shuffle in either direction. Avro is a ROW format: the
  * re-read scan necessarily materializes whole records (no column
  * pruning / predicate pushdown — exactly why parquet is the resident
  * format and Avro the interchange edge; stated in SCALE.md's format
  * notes). */
object AvroInterchange {

  /** Avro record schema JSON for a flat StructType (long / int / double /
    * string, nullable via union). */
  private[graft] def avroSchemaJson(schema: StructType, name: String): String = {
    val fields = schema.fields.map { f =>
      val t = f.dataType match {
        case LongType => "\"long\""
        case IntegerType => "\"int\""
        case DoubleType => "\"double\""
        case StringType => "\"string\""
        case other =>
          throw new IllegalArgumentException(
            s"avro interchange supports long/int/double/string, got $other for ${f.name}")
      }
      val typ = if (f.nullable) s"""["null", $t]""" else t
      s"""{"name": "${f.name}", "type": $typ}"""
    }
    s"""{"type": "record", "name": "$name", "fields": [${fields.mkString(", ")}]}"""
  }

  /** Write `df` as Avro container files under `path` (one per partition). */
  def writeAvro(df: DataFrame, path: String): Unit = {
    val sparkSchema = df.schema
    val schemaJson = avroSchemaJson(sparkSchema, "graft_row")
    val job = Job.getInstance(df.sparkSession.sparkContext.hadoopConfiguration)
    AvroJob.setOutputKeySchema(job, new Schema.Parser().parse(schemaJson))
    val names = sparkSchema.fieldNames
    df.rdd.mapPartitions { rows =>
      // schema re-parsed executor-side (Schema is not serializable)
      val schema = new Schema.Parser().parse(schemaJson)
      rows.map { r =>
        val rec = new GenericData.Record(schema)
        var i = 0
        while (i < names.length) {
          rec.put(names(i), if (r.isNullAt(i)) null else r.get(i))
          i += 1
        }
        (new AvroKey[GenericRecord](rec), NullWritable.get())
      }
    }.saveAsNewAPIHadoopFile(
      path,
      classOf[AvroKey[GenericRecord]],
      classOf[NullWritable],
      classOf[AvroKeyOutputFormat[GenericRecord]],
      job.getConfiguration)
  }

  /** Read Avro container files under `path` back into a DataFrame with
    * the given flat schema. Values are copied out of the reader's reused
    * record buffer immediately (Utf8 → String) — the standard Hadoop
    * object-reuse discipline. */
  def readAvro(s: SparkSession, path: String, schema: StructType): DataFrame = {
    val names = schema.fieldNames
    val rdd = s.sparkContext.newAPIHadoopFile(
        path,
        classOf[AvroKeyInputFormat[GenericRecord]],
        classOf[AvroKey[GenericRecord]],
        classOf[NullWritable])
      .mapPartitions(_.map { case (k, _) =>
        val rec = k.datum()
        val vals = new Array[Any](names.length)
        var i = 0
        while (i < names.length) {
          vals(i) = rec.get(names(i)) match {
            case u: org.apache.avro.util.Utf8 => u.toString
            case other => other
          }
          i += 1
        }
        Row.fromSeq(vals.toIndexedSeq)
      })
    s.createDataFrame(rdd, schema)
  }

  private val b173 = entry(
    "b173_sink_avro",
    """SELECT p_partkey, p_name, p_brand, p_size, p_retailprice
      |FROM part WHERE p_size >= 40
      |ORDER BY p_partkey""".stripMargin) { (s, d) =>
    // fresh: the Hadoop committer refuses an existing output dir
    val out = WorkDirs.fresh("b173_avro") + "/out"
    val src = Tables.part(s, d)
      .select("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice")
      .filter(col("p_size") >= 40)
    writeAvro(src, out)
    readAvro(s, out, src.schema).orderBy("p_partkey")
  }

  val entries: Seq[Entry] = Seq(b173)
}
