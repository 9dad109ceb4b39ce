package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional trailing names: dump only those queries (local iteration;
    // the driver always calls with exactly two args = full dump). A
    // typo'd name must fail loudly, not dump nothing and exit 0 — the
    // same silent-acceptance class the oracle checker guards against.
    val only: Set[String] = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"[verify] unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = GraftSession.builder("verify").getOrCreate()
    new java.io.File(outDir).mkdirs()
    // failed queries whose STALE output from an earlier run could not
    // be removed: the driver's compare would grade old-but-matching
    // parquet as a pass, so this must escalate to a nonzero exit
    var poisoned = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a reused outDir may hold this query's parquet from an EARLIER
        // run (overwrite only lands on success) — deleting it turns the
        // failure into a loud "no spark output" in the compare instead
        // of silently grading stale-but-matching output as a pass. A
        // FAILED delete reinstates exactly that hazard, so it cannot
        // be swallowed.
        val p = new org.apache.hadoop.fs.Path(s"$outDir/$name")
        val cleaned =
          try {
            val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            !fs.exists(p) || fs.delete(p, true)
          } catch { case _: Exception => false }
        if (!cleaned) {
          System.err.println(s"[verify] $name: STALE OUTPUT AT $p COULD " +
            "NOT BE REMOVED — the compare would grade an earlier run")
          poisoned ::= name
        }
      }
    }
    // escaping via the shared JsonOut: a tab or CR in builder-authored
    // SQL would otherwise make the driver's json.load fail and silently
    // zero the round's correctness.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${JsonOut.quote(k)}: ${JsonOut.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (poisoned.nonEmpty) {
      System.err.println(s"[verify] POISONED output for: " +
        poisoned.sorted.mkString(", "))
      sys.exit(3)
    }
  }
}
