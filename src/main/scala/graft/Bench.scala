package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Benchmark main: times every declared query at `SPARK_GRAFT_SF_DIR`
  * and emits ONE JSON line (the entry-point contract), also written to
  * `bench.json` so the graded artifact survives sbt log interleaving.
  * Trailing query names time only those queries and leave `bench.json`
  * alone (`runMain graft.Bench q_a q_b` for per-query isolation).
  *
  * Noise control: every query runs `SPARK_GRAFT_BENCH_RUNS` times
  * (default 2) after a GC request; `queries` reports the min,
  * `first_run`/`second_run` the raw samples and `spread` max-min, so a
  * regression is distinguishable from GC/run-position noise from the
  * artifact itself. One process, no per-query Spark-conf overrides.
  */
object Bench {

  /** One per-query sample set: (graded min, first run, second run,
    * spread, first error). */
  private[graft] type QSample = (Double, Double, Double, Double, Option[String])

  /** Renders the one-line JSON artifact from the timed samples; pure,
    * so BenchSpec can gate its parseability. */
  private[graft] def render(results: Map[String, QSample], runs: Int,
      sfDir: String): String = {
    import JsonOut.{esc => jesc}
    // keys AND the env-sourced sfDir go through jesc too: a quote or
    // backslash in either would corrupt the one-line artifact the
    // driver json.load's (the failure the bench.json fallback exists
    // to prevent)
    def jmap(sel: QSample => Double): String =
      results.map { case (k, v) => s"\"" + jesc(k) + "\":" + sel(v) }
        .mkString("{", ",", "}")
    val qs = jmap(_._1)
    val firsts = jmap(_._2)
    val errors = results.collect { case (k, (_, _, _, _, Some(e))) =>
      s"\"" + jesc(k) + "\":\"" + jesc(e) + "\"" }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.map(_._1).sum else 0.0
    // second_run/spread only exist when a second sample was actually
    // taken: fabricating second_run == first_run at runs=1 would show a
    // perfect steady-state agreement that never happened
    val multi = if (runs < 2) "" else {
      // both samples emitted (not just the min) so a steady-state
      // regression is distinguishable from one-run GC noise; spread =
      // max-min per query, the noise band separating a real regression
      // from GC/position effects
      s""","second_run":${jmap(_._3)},"spread":${jmap(_._4)}"""
    }
    s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"queries":$qs,"first_run":$firsts$multi,"errors":$errors,"sf":"${jesc(sfDir)}"}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional trailing names time only those queries; a typo'd name
    // fails loudly, as in Verify
    val only: Set[String] = args.toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"[bench] unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = GraftSession.builder("bench").getOrCreate()
    // warm up codegen/classloading once so the first timed query doesn't
    // carry ~6s of one-time JVM cost (measured; see BENCH notes)
    spark.range(1000).selectExpr("sum(id)").count()
    SparkEntry.queries.get("q_scan_pruned_count")
      .foreach(fn => try fn(spark, sfDir).count() catch { case _: Throwable => })

    // a crashing query must surface in the artifact, never be recorded
    // as a fast success: the error text rides along in an "errors" map
    // and the run still times the crash.
    //
    // Materialization is a `noop`-format WRITE, not .count(): wrapping
    // a query in Aggregate(count(1)) lets Catalyst drop the final ORDER
    // BY and prune unreferenced value expressions, under-timing what
    // Verify fully materializes. The noop sink consumes every column of
    // every row and keeps the sort.
    def time(fn: (SparkSession, String) => DataFrame)
        : (Double, Option[String]) = {
      val t0 = System.nanoTime()
      val err = try {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        None
      } catch {
        case t: Throwable =>
          Some(t.getClass.getSimpleName + ": "
            + String.valueOf(t.getMessage).replaceAll("\\s+", " ").take(200))
      }
      ((System.nanoTime() - t0) / 1e9, err)
    }

    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2")
      .toIntOption.getOrElse(2))
    val results = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      val samples = (1 to runs).map { _ =>
        System.gc()
        time(fn)
      }
      val times = samples.map(_._1)
      // the graded min is taken over SUCCESSFUL samples only: a fast
      // crash (0.05 s transient failure next to an 8 s good run) must
      // never be recorded as the query's time — that would be a crash
      // graded as a speedup. All-failed queries keep the raw min so
      // the crash duration still surfaces (with its errors entry).
      val okTimes = samples.collect { case (t, None) => t }
      val graded = if (okTimes.nonEmpty) okTimes.min else times.min
      val err = samples.flatMap(_._2).headOption
      name -> (graded, times.head,
        if (times.length > 1) times(1) else times.head,
        times.max - times.min, err)
    }
    val line = render(results, runs, sfDir)
    // Artifact durability: (1) bench.json lands FIRST, before anything
    // that could still fail; (2) the stdout JSON line prints LAST —
    // after spark.stop() — so no later output of ours can displace it
    // from a bounded stdout tail (Spark/sbt log noise goes to stderr).
    // A filtered run is not the graded artifact and leaves bench.json
    // alone.
    if (only.isEmpty)
      try Files.write(Paths.get("bench.json"), (line + "\n").getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      catch { case _: Throwable => () }
    try spark.stop() catch { case _: Throwable => () }
    println(line)
  }
}
