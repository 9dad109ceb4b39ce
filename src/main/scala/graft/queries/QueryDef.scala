package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** One declared operator from SURVEY.md §2B: the Spark plan plus (when
  * SQL-expressible) the DuckDB oracle SQL that must hash-match it.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QueryGroup {
  def defs: Seq[QueryDef]
}

/** Scoped session-conf overrides (the r12 deferred cleanup: the
  * streaming queries each hand-copied a save/set/try/restore block,
  * and the copies drifted — two of them built eager state between the
  * `set` and the `try`, leaking shuffle.partitions=4 session-wide on a
  * throw). The overrides are applied INSIDE the protected region, so a
  * mid-list failure still restores the prefix already applied, and the
  * previous state is restored faithfully — set back, or unset if the
  * key had no explicit value. */
object Confs {
  def withConfs[A](s: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prev.reverse.foreach { case (k, was) =>
      // a restore failure may not be silent: the override would stay
      // active session-wide (e.g. a leaked noDataMicroBatches=false
      // starves every later watermark query) with nothing pointing at
      // this conf — same loudness rule as Verify's stale-output sweep
      try was match {
        case Some(v) => s.conf.set(k, v)
        case None => s.conf.unset(k)
      } catch {
        case e: Exception => System.err.println(
          s"[confs] FAILED to restore $k -> ${was.getOrElse("<unset>")}: " +
            s"${e.getMessage}; the override is LEAKED session-wide")
      }
    }
  }

  /** The inputs of a plan-time size gate: the bytes under `path` (0
    * when it does not exist, so building a plan never fails on a
    * missing input) and the byte-count conf `key`, `default` when
    * unset. An unparseable value fails loudly instead of defaulting. */
  def sizeGate(s: SparkSession, path: String, key: String,
      default: Long): (Long, Long) = {
    val threshold = s.conf.getOption(key).map(v => v.toLongOption.getOrElse(
      throw new IllegalArgumentException(
        s"$key must be a byte count, got '$v'"))).getOrElse(default)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    (if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L, threshold)
  }
}

/** The RNG-free md5 uniform-hash gate the sampling/text family shares
  * (the r13 deferred cleanup: ~14 call sites hand-copied the
  * conv(substring(md5(...))) expression, the exact drift class that
  * produced the r12 withConfs and r13 JSON-escaper bugs). Both engines
  * — Spark and the DuckDB oracle — compute md5 identically, so the
  * first k hex chars parsed base-16 are a deterministic uniform
  * integer in [0, 16^k): content-independent, stable across reruns,
  * engines, and partitionings, which is what makes it the
  * reproducible-split primitive of the sampling family. At 100 TB
  * every gate built on it is a map-only hash + integer compare per
  * row — no shuffle, no RNG state.
  *
  * The `castTo` of the 2-digit bucket form stays `int` (not bigint):
  * the bucket surfaces as an output column in three queries and the
  * oracle pins its schema. */
object HashGate {

  /** SQL fragment: first `hexDigits` hex chars of md5(inputSql),
    * parsed base-16. 15 digits = 60 bits, the widest that fits BIGINT
    * in both engines. */
  def md5HexSql(inputSql: String, hexDigits: Int,
      castTo: String = "bigint"): String =
    s"cast(conv(substring(md5($inputSql), 1, $hexDigits), 16, 10) as $castTo)"

  def md5Hex(inputSql: String, hexDigits: Int,
      castTo: String = "bigint"): Column =
    expr(md5HexSql(inputSql, hexDigits, castTo))

  /** 16-bit uniform u in [0, 65536) over an integer key column — the
    * whole sampling family's acceptance variate. */
  def u16(keyCol: String): Column = md5Hex(s"cast($keyCol as string)", 4)

  /** 60-bit hash of a string expression (order keys, fingerprints). */
  def h60Sql(inputSql: String): String = md5HexSql(inputSql, 15)

  /** INT bucket in [0, mod) over an integer key column — the
    * train/val/test split primitive. */
  def bucket(keyCol: String, mod: Int): Column =
    expr(md5HexSql(s"cast($keyCol as string)", 2, "int") + s" % $mod")
}
