package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{AdvancedQueries, CoreQueries, DataOpsQueries, ExtraQueries, QueryDef}

/** Driver contract — see /root/repo/SURVEY.md §7.
  *
  * Every implemented operator from SURVEY.md §2 is exposed as a named
  * query over /root/testdata/sf* plus (where SQL-expressible) a DuckDB
  * oracle. Query modules register themselves in `all`.
  */
object SparkEntry {

  private def all: Seq[QueryDef] =
    CoreQueries.defs ++ DataOpsQueries.defs ++ ExtraQueries.defs ++
      AdvancedQueries.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. q32 runs the reference's whole analytic core — PIT
    * identity, as-of alignment, factor cumprods, anchor-to-last, split
    * and TR application — through graft.adjust in one plan.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q32_adjusted_close")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. graft.Verify
    * checks every entry against its oracle and graft.Bench times every
    * entry: there is one query list.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.fn).toMap

  /** `SPARK_GRAFT_CPUS` as a positive core count, or 4 when it is
    * unset. Any other value ("", "*", "0", "4c") throws: a bad value
    * must not silently pick another core count or another record file.
    */
  def cpus(env: Map[String, String] = sys.env): Int =
    positiveInt(env, "SPARK_GRAFT_CPUS", 4)

  /** `SPARK_GRAFT_REPEATS`, Bench's per-row sample count (default 1),
    * parsed like [[cpus]]: "three" or "0" throws rather than silently
    * running one repeat.
    */
  def repeats(env: Map[String, String] = sys.env): Int =
    positiveInt(env, "SPARK_GRAFT_REPEATS", 1)

  /** The env variable `key` as a positive Int, or `default` when it is
    * unset; any other value throws.
    */
  private def positiveInt(env: Map[String, String], key: String,
      default: Int): Int =
    env.get(key).fold(default) { s =>
      s.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"$key must be a positive integer, got '$s'"))
    }

  /** The `SPARK_GRAFT_ONLY` query filter of Verify and Bench, or None
    * when it is unset or holds no entry. The value is a comma-separated
    * list of names; an entry ending in `*` matches every name with
    * that prefix (`qst*`). Entries are trimmed and blanks dropped, so
    * "a, b" matches b and an all-comma value means "no filter" rather
    * than "run nothing". `scripts/selfcheck.py --only` expands entries
    * the same way.
    */
  def onlyFilter(env: Map[String, String] = sys.env)
      : Option[String => Boolean] =
    env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
      .map(entries => (name: String) => entries.exists(onlyMatches(_, name)))

  /** One `SPARK_GRAFT_ONLY` entry against a query name: `prefix*`
    * matches by prefix, anything else by the exact name.
    */
  private def onlyMatches(entry: String, name: String): Boolean =
    if (entry.endsWith("*")) name.startsWith(entry.dropRight(1))
    else name == entry

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
