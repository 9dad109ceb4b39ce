package graft

import org.apache.spark.sql.SparkSession

/** The one session preset every graft entry point and test suite
  * builds from; callers override only what they must (master, app
  * name, partitions). */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` (default 4): local threads and shuffle partitions. */
  lazy val cpus: Int = {
    val v = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // doubles as the shuffle-partition count, so local[*] syntax is out
    require(v.nonEmpty && v.forall(_.isDigit),
      s"SPARK_GRAFT_CPUS must be a plain integer, got '$v'")
    v.toInt
  }

  /** `local[threads]` with graft's confs and extensions; the warehouse
    * lands in the per-user scratch dir `warehouse_<name>`. */
  def builder(name: String, threads: Int = cpus): SparkSession.Builder =
    new SparkSession.Builder {
      // the log level is a SparkContext setting, not a conf
      override def getOrCreate(): SparkSession = {
        val s = super.getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        s
      }
    }
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      // date_trunc/to_date/year-month groupings must not follow the
      // host zone: the oracle verifies them in UTC
      .config("spark.sql.session.timeZone", "UTC")
      // Spark 4.1's recursive-CTE executor turns a small anchor into a
      // LocalRelation (default limit 100 rows), which re-embeds the
      // growing iteration state into every per-iteration plan and
      // re-analyzes it: q_sql_recursive 3.8 s with the conversion,
      // 2.7 s without. Execution strategy only; results are identical.
      .config("spark.sql.cteRecursionAnchorRowsLimitToConvertToLocalRelation",
        "0")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", GraftTmp.dir(s"warehouse_$name"))
      .withExtensions(new GraftExtensions)
}
