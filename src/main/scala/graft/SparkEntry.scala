package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries live in `graft.queries.*` as [[QDef]]s (Spark definition +
  * DuckDB oracle SQL); this object is just the
  * aggregation point the driver calls.
  */
object SparkEntry {

  /** All query groups. Order only affects listing, not semantics. */
  def groups: Seq[QGroup] = Seq(
    Relational, Joins, Aggregates, Windows, SetOps, Scalars,
    EventsTime, SourcesSinks, Nested, LlmOps, TextOps, Custom, Floor)

  def all: Seq[QDef] = groups.flatMap(_.defs)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.spark).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
