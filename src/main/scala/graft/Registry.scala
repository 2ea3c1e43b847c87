package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Central query registry: every operator from SURVEY.md §2B is one [[Entry]]
  * — a named Spark DataFrame query plus (when SQL-expressible) the equivalent
  * DuckDB oracle SQL the driver hash-compares against (t2 gate).
  *
  * Determinism contract for every oracle-backed entry (SURVEY.md §2B preamble):
  *   - total ordering: ends in ORDER BY over a unique key tiebreaker,
  *     NULLS FIRST made explicit on the DuckDB side (Spark's asc default);
  *   - doubles that pass through an aggregate are `round(x, 4)`;
  *   - timestamps are formatted to strings in query output;
  *   - no current_timestamp()/rand(); "now" is always a literal parameter.
  */
object Registry {
  /** A registered query: (session, sfDir) => result. sfDir is the driver
    * testdata directory holding the 10 parquet tables (TESTDATA.md). */
  type Q = (SparkSession, String) => DataFrame

  final case class Entry(
      name: String,
      q: Q,
      /** DuckDB SQL over the same parquet tables; None → driver records a
        * weaker rows-only check (used for approximate / non-SQL ops). */
      oracle: Option[String],
      /** Included in the Bench headline set (sf0.1 timing vs BASELINE). */
      bench: Boolean = false,
  )

  def entry(name: String, oracle: String, bench: Boolean = false)(q: Q): Entry =
    Entry(name, withNatives(q), Some(oracle), bench)

  def entryNoOracle(name: String, bench: Boolean = false)(q: Q): Entry =
    Entry(name, withNatives(q), None, bench)

  /** Installs the native functions before the query is built, so every
    * entry runs in any session, extension-less ones included. */
  private def withNatives(q: Q): Q = { (s, d) =>
    graft.functions.Natives.install(s)
    q(s, d)
  }
}
