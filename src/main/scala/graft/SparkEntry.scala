package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §2B (binding inventory). */
object SparkEntry {

  /** All declared operator groups; each QueryDef carries its Spark plan
    * and (when SQL-expressible) the DuckDB oracle SQL. */
  def groups: Seq[QueryGroup] = Seq(
    Scans, SetsSorts, Joins, Aggs, Windows, Funcs, Stream, Etl, Llm,
    LlmText, Pipeline
  )

  private lazy val all: Seq[QueryDef] = {
    val defs = groups.flatMap(_.defs)
    // toMap below keeps only the LAST entry per name: a duplicated
    // QueryDef name would silently drop a declared operator from the
    // correctness dump, the bench, and the generated smoke tests —
    // graded coverage shrinking with zero errors. Fail at first touch.
    val dup = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dup.isEmpty, s"duplicate QueryDef names: ${dup.mkString(", ")}")
    defs
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Aggs.pricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2; each call
    * first installs GraftExtensions on the session it is given. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { q =>
      q.name -> { (s: SparkSession, d: String) =>
        GraftExtensions.install(s)
        q.fn(s, d)
      }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
