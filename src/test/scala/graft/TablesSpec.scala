package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Loader contract for the driver testdata (round-9 postmortem: the driver
  * regenerated /root/testdata on 2026-08-13 changing events.ts from
  * parquet timestamp[ns] to timestamp[us], and the then-unconditional ns
  * shim took down every events consumer). Pins:
  *  - events.ts surfaces as TimestampType (µs, UTC) on the CURRENT testdata;
  *  - the same loader still handles an int64-ns generation (synthesized);
  *  - values agree across both encodings of the same instants;
  *  - registerAll survives one poisoned table: the other views register and
  *    only the poisoned name fails, and only when used.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val sf = TestSession.sf0001

  test("events.ts loads as TimestampType on current testdata (timestamp[us])") {
    val df = Tables.events(spark, sf)
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.count() > 0)
    // Sanity: instants are in the generated 2024 range, not 1970 (a unit
    // mix-up — treating µs as ns or vice versa — would shift by 1000×).
    val yr = df.agg(min(year(col("ts"))).as("lo"), max(year(col("ts"))).as("hi")).head()
    assert(yr.getInt(0) >= 2023 && yr.getInt(1) <= 2026,
      s"ts year range ${yr.getInt(0)}..${yr.getInt(1)} looks unit-shifted")
    // Loader contract for the week-bucketed entries (b118/b121): no event
    // precedes the 2024-01-01 anchor, so week indexes are non-negative and
    // CohortProcessor's non-negativity require can't fire on driver data.
    // (The Spark-side weekFloorExpr now matches DuckDB `//` on pre-anchor
    // data anyway, but the generated corpus should stay post-anchor.)
    val preAnchor = df.filter(col("ts") < lit("2024-01-01 00:00:00").cast(TimestampType)).count()
    assert(preAnchor == 0L, s"$preAnchor events precede the 2024-01-01 week anchor")
  }

  test("events loader adapts to an int64-ns generation and values match the µs read") {
    val tmp = TestDirs("graft-events-ns").toString
    // Re-encode the current events table as raw int64 nanoseconds, the
    // pre-2026-08-13 physical layout (ns parquet timestamps read via the
    // legacy conf are indistinguishable from a plain int64 column to the
    // loader's LongType branch, so int64 is a faithful stand-in).
    val cur = Tables.events(spark, sf)
    cur.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val viaNs = Tables.events(spark, tmp)
    assert(viaNs.schema("ts").dataType == TimestampType)
    val mismatches = viaNs.select("event_id", "ts")
      .join(cur.select(col("event_id"), col("ts").as("ts_us")), "event_id")
      .filter(col("ts") =!= col("ts_us")).count()
    assert(mismatches == 0, s"$mismatches events disagree between ns and µs encodings")
  }

  test("registerAll survives a poisoned table; other views still work") {
    val tmp = TestDirs("graft-poison").toString
    for (n <- Tables.names) {
      Files.copy(Paths.get(s"$sf/$n.parquet"), Paths.get(s"$tmp/$n.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    // Poison one table that the SQL-text queries do NOT need: replace the
    // supplier parquet with garbage bytes so the footer read fails.
    Files.write(Paths.get(s"$tmp/supplier.parquet"), "not a parquet file".getBytes)

    val isolated = spark.newSession()
    isolated.conf.set("spark.sql.session.timeZone", "UTC")
    Tables.registerAll(isolated, tmp)

    // The other nine views registered and query fine (including events).
    for (n <- Tables.names if n != "supplier") {
      assert(isolated.sql(s"SELECT * FROM $n LIMIT 1").count() >= 0, s"view $n unusable")
    }
    assert(isolated.sql("SELECT count(*) c FROM lineitem").head().getLong(0) > 0)
    assert(isolated.sql("SELECT count(*) c FROM events").head().getLong(0) > 0)
    // Only the poisoned name fails, and only when used.
    val err = intercept[Exception] { isolated.sql("SELECT * FROM supplier LIMIT 1").collect() }
    assert(err.getMessage.toLowerCase.contains("supplier"))
  }
}
