package graft

import org.apache.spark.sql.{DataFrame, SparkSession, functions}

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
    Entry(name, scoped(name, q), Some(oracle), bench)

  def entryNoOracle(name: String, bench: Boolean = false)(q: Q): Entry =
    Entry(name, scoped(name, q), None, bench)

  /** The plant-id collision guard: an entry that plants synthetic rows at
    * `id + offset` fails at plan-build when a dataset's ids reach the
    * offset, instead of aliasing a plant onto a real row. One `max` job;
    * an empty source (max is NULL) passes. */
  def requireIdsBelow(df: DataFrame, idCol: String, offset: Long, entry: String): Unit = {
    val maxId = df.agg(functions.max(idCol).cast("long")).head.getAs[java.lang.Long](0)
    for (m <- Option(maxId)) require(m < offset, s"$entry: max($idCol)=$m collides" +
      s" with the plant-id offset $offset — raise the offset for this dataset")
  }

  /** Installs the native functions before the query is built, so every
    * entry runs in any session, extension-less ones included, and builds
    * it in a [[graft.exec.QueryScope]] named after the entry. */
  private def scoped(name: String, q: Q): Q = { (s, d) =>
    graft.functions.Natives.install(s)
    graft.exec.QueryScope(name)(q(s, d))
  }
}
